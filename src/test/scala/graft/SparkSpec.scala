package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (small parallelism — these
  * are semantics tests, not perf tests).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("spark_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A profiled group's job count per call site, for failure messages
    * that name the job a pin gained or lost. */
  def sites(g: Profile.Group): String =
    g.jobs.groupBy(_.callSite).toSeq.sortBy(_._1)
      .map { case (site, js) => s"$site x${js.size}" }.mkString(", ")
}
