package graft
import org.apache.spark.sql.SparkSession
/** Dev tool: print the formatted physical plan of one or more queries.
  * Usage: runMain graft.Explain <sfDir> <queryName> [queryName...]
  *
  * Convergence-loop queries execute their loop at construction time,
  * so their query-level plan shows only the final assembly. The
  * pseudo-names below print the ROUND-BODY plan instead — the thing
  * the r16 optimization evidence (plans/r16/) actually claims about:
  *   loop:pr_round   — Curation.prRound over the persisted edeg and a
  *                     round-1-shaped rank checkpoint (q175/q178 body)
  *   loop:ppr_round  — Curation.prRound with a seed-only teleport
  *                     column, same harness (q186 body)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      println(s"===== $name =====")
      name match {
        case "loop:pr_round" | "loop:ppr_round" =>
          import org.apache.spark.sql.functions.{col, count, lit, sum, when}
          import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          val (_, edges, nodes) =
            graft.queries.Curation.prGraphEdges(spark, sfDir)
          val edeg = graft.queries.Curation
            .withOutdeg(edges, graft.Loop.statePartitions(edges))
            .persist(MEMORY_AND_DISK)
          graft.Tables.touch(edeg)
          // steady-round shape: run ONE real round through the loop's
          // own checkpoint path first, then explain round 2 over that
          // checkpoint — the plan every data-driven round after the
          // first actually executes (the init round's partitioning
          // differs and is not the claim plans/r16 makes)
          def roundOf(pr: org.apache.spark.sql.DataFrame) =
            if (name == "loop:pr_round")
              graft.queries.Curation.prRound(edeg, pr)
            else graft.queries.Curation.prRound(edeg, pr,
              when(col("id") % 97L === 0L, lit(100L)).otherwise(lit(0L)))
          val (pr0, _) = graft.Loop.checkpoint(
            graft.queries.Curation.prInit(nodes.select(col("id"),
              lit(1000000000L).as("pr")), edeg.rdd.getNumPartitions),
            count(lit(1)), keepLayout = true)
          val (ck1, _) = graft.Loop.checkpoint(roundOf(pr0), sum(col("mv")),
            keepLayout = true)
          val pr1 = ck1.select(col("id"), col("pr"))
          // print under the loop's own planning conditions: the real
          // rounds materialize inside Loop.checkpoint(keepLayout) (AQE
          // off for the round job — Loop.noAdaptive), so the committed plan
          // evidence must be planned the same way. Save/restore the
          // PRE-EXISTING value under try/finally (r17, ADVICE): an
          // exception mid-explain must not leave AQE off for the
          // remaining query names of this invocation.
          val aqeKey = "spark.sql.adaptive.enabled"
          val aqePrev = spark.conf.get(aqeKey)
          spark.conf.set(aqeKey, "false")
          try roundOf(pr1).explain("formatted")
          finally spark.conf.set(aqeKey, aqePrev)
          edeg.unpersist(blocking = false)
          graft.Ck.release(pr0)
          graft.Ck.release(pr1)
        case _ =>
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
