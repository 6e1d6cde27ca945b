package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pins graft.Loop's one checkpoint primitive: the stop metric that
  * rides the checkpoint job as a Spark Observation must (a) equal
  * what the second-job fallback computes on the same checkpoint, for
  * every metric kind the loops use, (b) actually ride in this Spark
  * build — if every call fell back to the second job, the one-job-
  * per-round discipline would silently not exist — and (c) stay
  * correct when two loops run at once in two sessions.
  */
class LoopRiderSpec extends SparkSpec {

  /** (name, frame, metric, expected value) — one row per metric kind
    * a loop stops on. */
  private def cases: Seq[(String, DataFrame, Column, Long)] = {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 1L), (2L, 3L), (4L, 5L), (6L, 6L)).toDF("old", "new")
    Seq(
      ("moved count", pairs, count_if(col("old") =!= col("new")), 2L),
      ("moved count, none moved", pairs.filter(col("old") === col("new")),
        count_if(col("old") =!= col("new")), 0L),
      ("sum", pairs, sum(abs(col("new") - col("old"))), 2L),
      ("sum over no rows", pairs.filter(lit(false)), sum(col("new")), 0L),
      ("max", pairs, max(col("new")), 6L),
      ("max over no rows", pairs.filter(lit(false)), max(col("new")), 0L),
      ("emptiness, non-empty", pairs, count(lit(1)), 4L),
      ("emptiness, empty", pairs.filter(lit(false)), count(lit(1)), 0L))
  }

  cases.foreach { case (name, frame, metric, want) =>
    test(s"checkpoint rider equals the fallback's second job: $name") {
      val (ck, rode) = Loop.checkpoint(frame, metric)
      assert(rode == want, s"$name: rider read $rode, want $want")
      assert(Loop.secondJob(ck, metric) == rode,
        s"$name: the fallback disagrees with the rider on the same checkpoint")
      assert(ck.columns.toSeq == frame.columns.toSeq) // observe adds no column
      assert(ck.count() == frame.count())
      Ck.release(ck)
    }
  }

  test("the metric rides the checkpoint job (observation completes), not the fallback") {
    val r0 = Loop.rides.get()
    val f0 = Loop.fallbacks.get()
    (1 to 5).foreach { i =>
      val (ck, n) = Loop.checkpoint(
        spark.range(100L * i).toDF("id"), count_if(col("id") % 2 === 0))
      assert(n == 50L * i)
      Ck.release(ck)
    }
    val rides = Loop.rides.get() - r0
    val fallbacks = Loop.fallbacks.get() - f0
    // the async bus may race an individual call, but if ALL five fell
    // back the rider is dead code in this Spark build — fail loudly
    assert(rides >= 1L, s"all $fallbacks calls took the fallback path")
  }

  test("fixpoint: guard releases the live state and fails loudly") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val err = intercept[IllegalArgumentException] {
      // a state that never settles: every round moves every row
      Loop.fixpoint("never", spark.range(10).toDF("id"),
        count(lit(1)), maxRounds = 3)(st => st.select((col("id") + 1).as("id")))
    }
    assert(err.getMessage.contains("did not settle in 3 rounds"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "the guard path left checkpoint blocks behind")
  }

  test("fixpoint records <name>, <name>_wms and <name>_tms; drain returns them, then clears") {
    // perfbench's Batch.rounds counts a LoopStats key as a loop's
    // rounds only when its `_wms` twin exists, so the three keys are
    // a contract, not a detail
    LoopStats.drain()
    // ids climb by one and stop at 3: 2, 1, then 0 rows below 3
    val (st, curve) = Loop.fixpoint("stats_probe",
      spark.range(1000000L).toDF("id"), count_if(col("id") < 3L), maxRounds = 10)(
      s => s.select(least(col("id") + 1L, lit(3L)).as("id")))
    Ck.release(st)
    assert(curve.map(_._2) == Seq(2L, 1L, 0L), curve)
    val stats = LoopStats.drain()
    assert(stats.keySet == Set("stats_probe", "stats_probe_wms", "stats_probe_tms"), stats)
    assert(stats("stats_probe") == 3L, stats)
    assert(stats("stats_probe_wms") > 0L, stats)
    assert(stats("stats_probe_tms") > 0L, "rounds that ran tasks metered no task time")
    assert(LoopStats.drain().isEmpty)
  }

  // the other recordLoop callers keep the contract: ops.bfsDistances
  // (q172's `bfs`, through ops.bfsLevels) and ops.scc (q199's `scc`,
  // through Mining.sccAssign); perfbench's loop.rounds sums exactly the
  // keys with a `_wms` twin
  Seq[(String, DataFrame => DataFrame)](
    "bfs" -> (e => graft.api.ops.bfsDistances(e, "src", "dst", _ === lit(0L))._1),
    "scc" -> (e => graft.api.ops.scc(e, "src", "dst"))
  ).foreach { case (loop, run) =>
    test(s"$loop records $loop, ${loop}_wms and ${loop}_tms") {
      // a binary tree with edges both ways: 14 hops deep, one component
      val down = spark.range(1L, 1L << 14).select((col("id") / 2L).cast("long").as("src"),
        col("id").as("dst"))
      val edges = down.unionByName(down.select(col("dst").as("src"), col("src").as("dst")))
      LoopStats.drain()
      val out = run(edges)
      try out.count() finally Ck.release(out)
      val stats = LoopStats.drain()
      assert(stats.keySet.filter(k => stats.contains(s"${k}_wms")) == Set(loop), stats)
      assert(stats(loop) > 0L && stats(s"${loop}_wms") > 0L, stats)
      assert(stats(s"${loop}_tms") > 0L, s"$loop rounds that ran tasks metered no task time: $stats")
    }
  }

  test("two cc loops at once, in two sessions on two threads, both match the oracle") {
    // union-find over the driver-side edge list: the component label
    // is the smallest member id, as ops.connectedComponents defines it
    def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // long paths need several star alternations, so both loops are
    // mid-iteration at the same time
    def paths(offset: Long, n: Int, len: Int): Seq[(Long, Long)] =
      (0 until n).flatMap { p =>
        val base = offset + p * 1000L
        (0 until len - 1).map(i => (base + i, base + i + 1))
      }
    val graphs = Seq(paths(0L, 3, 40), paths(50000L, 4, 25))
    def run(s: SparkSession, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      import s.implicits._
      (1 to 3).map { _ =>
        val (labels, _) = api.ops.connectedComponents(
          edges.toDF("s", "d"), "s", "d")
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Ck.release(labels)
        got
      }.reduce { (a, b) => assert(a == b); a }
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = graphs.map { g =>
        val s = spark.newSession()
        pool.submit(new Callable[Map[Long, Long]] { def call() = run(s, g) })
      }
      futures.zip(graphs).foreach { case (f, g) =>
        assert(f.get(5, TimeUnit.MINUTES) == oracle(g))
      }
    } finally pool.shutdownNow()
  }
}
