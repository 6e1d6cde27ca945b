package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (small parallelism — these
  * are semantics tests, not perf tests).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs `body` starts, counted as SparkListenerJobStart events whose
    * job-group property is `group` — group filtering keeps the count
    * clean of other suites' jobs, and local properties propagate to
    * broadcast-exchange threads (SQLExecution captures them), so
    * broadcast jobs are counted too.
    */
  protected def countJobs(group: String)(body: => Unit): Long = {
    val sc = spark.sparkContext
    val counter = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group == e.properties.getProperty("spark.jobGroup.id"))
          counter.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // the bus is async: starts are normally delivered well before
      // the last job's RESULT returns, but don't gamble — poll to
      // quiescence (two equal reads 100 ms apart, bounded)
      var prev = -1L
      var tries = 0
      while (prev != counter.get() && tries < 20) {
        prev = counter.get(); tries += 1; Thread.sleep(100L)
      }
      counter.get()
    } finally sc.removeSparkListener(l)
  }

  override def afterAll(): Unit = super.afterAll()
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
}
