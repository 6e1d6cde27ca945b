package graft

import scala.collection.mutable.ArrayBuffer

/** q161's convergence loop: the Spark-at-scale disciplines a driver
  * loop must demonstrate — data-driven round count, bounded-round
  * guard, and lineage truncation (localCheckpoint per round) so the
  * plan a round builds on never grows with the round number.
  */
class CcLoopSpec extends SparkSpec {

  // sf0.01, not the usual sf0.001: the larger graph iterates ~11
  // rounds (vs 2), so the plan-depth pin actually spans a deep loop
  private val dir = "/root/testdata/sf0.01"

  test("cc loop: converges with a data-driven round count within the guard") {
    val (_, rounds) = graft.queries.Mining.ccLoop(spark, dir)
    // >3: the loop genuinely iterates on this data (a near-instant
    // "loop" would not exercise the fixpoint machinery);
    // <50: the bounded-round guard was never the stop reason
    assert(rounds > 3 && rounds < 50, s"rounds=$rounds")
  }

  test("cc loop: lineage does not grow across rounds (localCheckpoint pin)") {
    val plans = ArrayBuffer.empty[(Int, Int)] // (round, plan depth)
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    graft.queries.Mining.ccLoop(spark, dir, (r, labels) => plans += (r -> depth(labels)))
    // Every round's label frame is a projection over a checkpointed
    // LogicalRDD — identical plan depth from round 1 on. Without the
    // per-round localCheckpoint, depth grows by the per-round join
    // stack (~10+ nodes/round) and round N replays rounds 1..N-1.
    val depths = plans.map(_._2).distinct
    assert(depths.size == 1, s"plan depth varies across rounds: $plans")
    // and the truncated plan is genuinely flat, not a growing tree
    assert(depths.head <= 3, s"label plan deeper than LogicalRDD+Project: $plans")
  }

  test("kmeans loop: curve is monotone to the threshold and census covers the corpus") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q163_kmeans_converge")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val curve = out.filter(_._1 == "round").sortBy(_._2)
    val cells = out.filter(_._1 == "cell")
    // data-driven round count, stopped by the threshold not the guard
    assert(curve.nonEmpty && curve.length < 16, curve.mkString(","))
    val n = cells.map(_._3).sum
    // every round BEFORE the stop round exceeded the 2% threshold;
    // the stop round satisfies it — the loop stopped for the stated
    // reason, not by accident
    curve.init.foreach { case (_, r, _, reass) =>
      assert(reass * 50L > n, s"round $r under threshold yet loop continued")
    }
    assert(curve.last._4 * 50L <= n, curve.last.toString)
    assert(n == 500L) // sf0.01 embeddings corpus, fully assigned
  }

  // q172's BFS: ops.bfsDistances over the sparsified graph with the
  // node % 97 seeds and the oracle-synced 41-hop guard
  private def q172Bfs(
      probe: (Int, org.apache.spark.sql.DataFrame) => Unit = (_, _) => ())
    : (org.apache.spark.sql.DataFrame, Int) = {
    import org.apache.spark.sql.functions._
    graft.api.ops.bfsDistances(graft.queries.Mining.sparseUnd(spark, dir),
      "a", "b", _ % 97L === 0L, maxHops = 41, probe = probe)
  }

  test("bfs loop: exhausts the frontier with a data-driven hop count within the guard") {
    val (dist, hops) = q172Bfs()
    // >2: the loop genuinely expands multiple hops; <40: the guard
    // was never the stop reason (the final hop is the empty probe)
    assert(hops > 2 && hops < 40, s"hops=$hops")
    import org.apache.spark.sql.functions._
    // every distance is either -1 (seedless component) or < hops
    val bad = dist.filter(col("dist") < -1L || col("dist") >= hops.toLong)
    assert(bad.isEmpty)
    Ck.release(dist)
  }

  test("bfs loop: lineage does not grow across hops (localCheckpoint pin)") {
    val plans = ArrayBuffer.empty[(Int, Int)]
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    Ck.release(q172Bfs((h, level) => plans += (h -> depth(level)))._1)
    // each hop checkpoints its level: every hop observes a flat
    // LogicalRDD(+Project), not a plan that grows with the hop count
    val depths = plans.map(_._2).distinct
    assert(depths.size == 1, s"plan depth varies across hops: $plans")
    assert(depths.head <= 3, s"level plan deeper than LogicalRDD+Project: $plans")
  }

  test("bfs loop: distances are a BFS fixpoint (triangle inequality on every edge)") {
    import org.apache.spark.sql.functions._
    val (dist, _) = q172Bfs()
    val und = graft.queries.Mining.sparseUnd(spark, dir)
    val edges = und
      .join(dist.select(col("id").as("a"), col("dist").as("da")), "a")
      .join(dist.select(col("id").as("b"), col("dist").as("db")), "b")
    // adjacent reached nodes differ by at most one hop; a reached node
    // adjacent to an unreached one is impossible (BFS would reach it)
    val badPair = edges.filter(
      (col("da") >= 0L && col("db") >= 0L &&
        abs(col("da") - col("db")) > 1L) ||
      (col("da") >= 0L) =!= (col("db") >= 0L))
    assert(badPair.isEmpty, "an edge violates the BFS distance fixpoint")
    // seeds are exactly the dist-0 set
    val seedsWrong = dist.filter(
      (col("id") % 97L === 0L && col("dist") =!= 0L) ||
      (col("id") % 97L =!= 0L && col("dist") === 0L))
    assert(seedsWrong.isEmpty)
    Ck.release(dist)
  }

  test("pr loop: stops at the movement threshold with a data-driven round count") {
    val (pr, curve) = graft.queries.Curation.prLoop(spark, dir)
    // >3: the loop genuinely iterates; <20: the guard never stopped it
    assert(curve.length > 3 && curve.length < 20, curve.mkString(","))
    // movement never increases round-over-round, and decays overall
    // (a damped-integer iteration may legitimately plateau for a
    // round; a sustained rise or no net decay would be a bug)
    curve.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(b <= a, s"movement increased: $curve")
    }
    assert(curve.last._2 < curve.head._2, s"movement never decayed: $curve")
    // the loop stopped for the stated reason: every round before the
    // stop exceeds eps, the stop round satisfies it (the rank frame
    // covers exactly the node set, so its count is the denominator)
    val eps = pr.count() * 1000L
    curve.init.foreach { case (r, mv) =>
      assert(mv > eps, s"round $r under threshold yet loop continued") }
    assert(curve.last._2 <= eps, curve.last.toString)
  }

  test("pr loop: lineage does not grow across rounds (localCheckpoint pin)") {
    val plans = ArrayBuffer.empty[(Int, Int)]
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    graft.queries.Curation.prLoop(spark, dir, (r, pr) => plans += (r -> depth(pr)))
    val depths = plans.map(_._2).distinct
    assert(depths.size == 1, s"plan depth varies across rounds: $plans")
    assert(depths.head <= 3, s"rank plan deeper than LogicalRDD+Project: $plans")
  }

  test("q178: warm start beats cold start in rounds on the same delta graph") {
    val (_, curve0, curve1, edges1, nodes, eps) =
      graft.queries.Curation.incrementalPrRun(spark, dir)
    val cold = graft.queries.Curation.coldPrRounds(spark, edges1, nodes, eps)
    // the warm start's whole point: starting from the previous
    // fixpoint, a ~1-2% edge delta converges in strictly fewer
    // rounds than re-running from uniform ranks
    assert(curve1.length < cold,
      s"warm=${curve1.length} not < cold=$cold (base=${curve0.length})")
    // and the warm loop genuinely iterated (the delta disturbed the
    // fixpoint enough to need at least one correction round)
    assert(curve1.nonEmpty && curve0.length > 3,
      s"degenerate curves: base=${curve0.length} warm=${curve1.length}")
  }

  test("kcore loop: peels with a data-driven round count within the guard") {
    val (_, rounds) = graft.queries.Mining.kcoreLoop(spark, dir)
    // >2: the peel genuinely cascades (removals re-expose new
    // sub-threshold nodes); <40: the guard was never the stop reason
    assert(rounds > 2 && rounds < 40, s"rounds=$rounds")
  }

  test("kcore loop: lineage does not grow across rounds (localCheckpoint pin)") {
    val plans = ArrayBuffer.empty[(Int, Int)]
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    graft.queries.Mining.kcoreLoop(spark, dir, probe =
      (r, alive) => plans += (r -> depth(alive)))
    val depths = plans.map(_._2).distinct
    assert(depths.size == 1, s"plan depth varies across rounds: $plans")
    assert(depths.head <= 3, s"survivor plan deeper than LogicalRDD: $plans")
  }

  test("kcore loop: the core is a fixpoint (every induced degree >= k)") {
    val (coreDeg, _) = graft.queries.Mining.kcoreLoop(spark, dir)
    import org.apache.spark.sql.functions._
    // the defining invariant: one more peel round removes nothing
    assert(coreDeg.filter(col("deg") < 2).isEmpty,
      "a surviving node has induced degree < k")
    // and the core is non-trivial on this graph (sf0.01 keeps ~110
    // nodes; an empty core here would mean the peel over-removed)
    assert(coreDeg.count() > 50)
  }

  test("ppr loop: teleport concentrates rank on the seed neighborhood") {
    val (pr, curve) = graft.queries.Curation.pprLoop(spark, dir)
    // data-driven stop, under the shared guard
    assert(curve.length > 3 && curve.length < 20, curve.mkString(","))
    // movement decays monotonically (<=: integer iterations may
    // plateau a round — the r5-ADVICE relaxation)
    curve.map(_._2).sliding(2).foreach {
      case Seq(a, b) => assert(b <= a, s"movement increased: $curve")
      case _ => ()
    }
    import org.apache.spark.sql.functions._
    // the personalization property global PageRank cannot have: the
    // top-ranked node IS a seed (teleport mass dominates), and seeds
    // outrank the global median by construction
    val top = pr.orderBy(col("pr").desc, col("id")).limit(1).collect()(0)
    assert(top.getLong(0) % 97L == 0L, s"top node ${top.getLong(0)} not a seed")
  }

  test("cc loop: final labels are a fixpoint (one more round changes nothing)") {
    import org.apache.spark.sql.functions._
    val (labels, _) = graft.queries.Mining.ccLoop(spark, dir)
    val und = graft.queries.Mining.sparseUnd(spark, dir)
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    // adjacent nodes carry equal labels => min-neighbor step is identity
    val crossEdges = nbrs
      .join(labels, "node")
      .join(labels.select(col("node").as("nbr"), col("lbl").as("nlbl")), "nbr")
      .filter(col("lbl") =!= col("nlbl"))
    assert(crossEdges.isEmpty, "an edge crosses two label classes")
  }

  test("incremental cc: warm start beats cold on the same delta, labels equal") {
    val s = spark
    import s.implicits._
    import graft.api.ops
    def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // base: a 30-node path (deep min-label propagation) + a triangle
    val path = (0L until 29L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val base = (path ++ tri).toDF("s", "d")
    val (lab0, curve0) = ops.connectedComponentsCurve(base, "s", "d")
    // delta: EXTEND the path by two nodes (inserts) and drop one
    // redundant triangle edge (a delete that does NOT split)
    val dels = Seq((100L, 101L)).toDF("s", "d")
    val delta = (path ++ Seq((29L, 30L), (30L, 31L)) ++ tri.drop(1))
      .toDF("s", "d")
    val (warmLab, warmCurve) =
      ops.incrementalConnectedComponents(lab0, delta, dels, "s", "d")
    val (coldLab, coldCurve) = ops.connectedComponentsCurve(delta, "s", "d")
    // identical labeling either way...
    assert(labelSet(warmLab) == labelSet(coldLab))
    // ...but the warm start's movement reflects only the delta's
    // disturbance (two fresh nodes + the re-seeded 3-node triangle),
    // not the 30-node path's propagation depth
    assert(warmCurve.length < coldCurve.length,
      s"warm=$warmCurve cold=$coldCurve")
    Ck.release(lab0); Ck.release(warmLab); Ck.release(coldLab)

    // delete that SPLITS: cut the path in the middle — the affected
    // component re-seeds and re-verifies, labels match a cold run
    val cutDel = Seq((14L, 15L)).toDF("s", "d")
    val cut = (path.filterNot(_ == (14L, 15L)) ++ tri).toDF("s", "d")
    val (lab0b, _) = ops.connectedComponentsCurve(base, "s", "d")
    val (warmCut, _) =
      ops.incrementalConnectedComponents(lab0b, cut, cutDel, "s", "d")
    val (coldCut, _) = ops.connectedComponentsCurve(cut, "s", "d")
    assert(labelSet(warmCut) == labelSet(coldCut))
    // the split is real: node 15 now leads its own component
    assert(labelSet(warmCut).contains((15L, 15L)))
    Ck.release(lab0b); Ck.release(warmCut); Ck.release(coldCut)
  }

  test("incremental cc: under-reported delete fails loudly, not silently") {
    val s = spark
    import s.implicits._
    import graft.api.ops
    // base: a path whose min node 0 holds the component label
    val base = (0L until 10L).map(i => (i, i + 1)).toDF("s", "d")
    val (lab0, _) = ops.connectedComponentsCurve(base, "s", "d")
    // the changelog REMOVES edge (0,1) — node 0 leaves the graph —
    // but the caller reports NO deletes: every kept label still
    // names node 0, which the pointer jump would silently drop.
    // The stale-label guard must refuse before the loop runs.
    val delta = (1L until 10L).map(i => (i, i + 1)).toDF("s", "d")
    val noDels = base.filter(org.apache.spark.sql.functions.lit(false))
    val err = intercept[IllegalArgumentException] {
      ops.incrementalConnectedComponents(lab0, delta, noDels, "s", "d")
    }
    assert(err.getMessage.contains("under-reports"), err.getMessage)
    // same delta with the delete REPORTED converges and matches cold
    val dels = Seq((0L, 1L)).toDF("s", "d")
    val (warm, _) = ops.incrementalConnectedComponents(lab0, delta, dels, "s", "d")
    val (cold, _) = ops.connectedComponentsCurve(delta, "s", "d")
    assert(warm.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      cold.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    Ck.release(lab0); Ck.release(warm); Ck.release(cold)
  }
}
