package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.ops

/** Scale probe for the convergence-loop operators (q161 connected
  * components, q172 BFS, q175 PageRank, q181 k-core): the max driver testdata is
  * sf0.1, so the "survives 100x" claim would otherwise rest on plan
  * shape alone. This main builds 1x/10x/100x graphs IN-FLIGHT by
  * chain-replicating the base edge set (no files written) and runs
  * the public loop APIs on each, recording the data-driven round
  * count and per-round wall times — evidence that round count grows
  * with the graph's STRUCTURE, not its size (measured at sf0.1:
  * BFS hops 11/20/110 — linear in the chain by construction; cc
  * alternations 5/6/8 — star contraction's O(log n) absorbs the
  * 100x diameter;
  * PageRank rounds 11/14/32 — the chain mixes slower) while
  * per-round cost grows sub-linearly in edges at these sizes
  * (overhead-dominated below ~1M edges), i.e. the loops scale the
  * way the 100-TB story claims. Output: `SCALE_PROBE.<sf>.json` in
  * the working directory, named after the last path element of the
  * scale directory read (`SCALE_PROBE.sf0.1.json` for the default
  * sf0.1 directory), plus one summary line per scale on stdout.
  *
  * Chain replication (not disjoint copies): replica r shifts every
  * node id by r*n; bridge edges tie node x in replica r to the same
  * x in replica r+1 for the sparse x % 97 == 0 subset. Components
  * MERGE across replicas, so diameter — the quantity that drives
  * loop depth — actually grows with the scale factor; disjoint
  * copies would leave every round count flat and prove nothing.
  */
object ScaleProbe {

  private val legs = new java.util.concurrent.atomic.AtomicLong()
  // the current scale's leg rows, in run order (see [[timedLeg]])
  private val legRows = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run `f` as one leg, returning (result, wall seconds, executor task
    * ms) — the floor-vs-work decomposition: wall alone cannot say
    * whether a leg lost to per-job FLOOR (scheduling/planning; wall >>
    * task/cores) or to WORK (task-dominated). The leg's counters are
    * exactly its jobs, read from its [[Profile]] job group; each leg
    * also leaves a row under its `name` in the scale's `legs` object:
    * wall, jobs, stages, tasks, task ms and shuffle read/write bytes
    * and records — the counters whose growth the 100-TB claim rests on.
    */
  private def timedLeg[T](name: String)(f: => T): (T, Double, Long) = {
    val ((r, wallS), g) =
      Profile.run(SparkSession.active, s"scaleprobe_${legs.incrementAndGet()}") {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
    val c = g.counters
    legRows += s""""$name":{"wall_s":${fmt(wallS)},"jobs":${c.jobs},""" +
      s""""stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskRunMs},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""shuffle_records":${c.shuffleRecords}}"""
    (r, wallS, c.taskRunMs)
  }

  /** One past the max node id — the replica stride. */
  def stride(edges: DataFrame): Long =
    edges.agg((max(greatest(col("a"), col("b"))) + 1L).as("n"))
      .head().getLong(0)

  /** The sparsest modulus whose multiples actually appear in the
    * node set — bridge anchors (and BFS seeds) must exist at every
    * SF, and a fixed 97 has no multiples in the tiny sf0.001 graph.
    * Falls back to 1 (every node an anchor), which always exists.
    */
  def anchorMod(edges: DataFrame): Long = {
    val nodes = edges.select(col("a").as("x"))
      .unionByName(edges.select(col("b").as("x"))).distinct()
      .localCheckpoint(true)
    Seq(97L, 31L, 7L, 3L, 1L)
      .find(m => nodes.filter(col("x") % m === 0L).count() > 0).get
  }

  /** Chain-replicate the undirected (a, b) edge set `m` times (see
    * object doc). m = 1 returns the base edges unchanged.
    */
  def replicate(s: SparkSession, edges: DataFrame, m: Int, n: Long,
      mod: Long = 97L): DataFrame = {
    require(m >= 1, s"replica count must be >= 1, got $m")
    val reps = s.range(m).select(col("id").as("r"))
    val shifted = edges.crossJoin(reps)
      .select((col("a") + col("r") * n).as("a"),
        (col("b") + col("r") * n).as("b"))
    val bridges = edges.select(col("a").as("x"))
      .unionByName(edges.select(col("b").as("x")))
      .distinct().filter(col("x") % mod === 0L)
      .crossJoin(s.range(math.max(m - 1, 0)).select(col("id").as("r")))
      .select((col("x") + col("r") * n).as("a"),
        (col("x") + (col("r") + 1L) * n).as("b"))
    shifted.unionByName(bridges)
  }

  /** Replicate the (doc_id, text) corpus `m` times with
    * REPLICA-SALTED text: in replica r > 0 every token after the
    * first is prefixed with a replica tag, so token boundaries and
    * within-doc repetition structure carry over while cross-replica
    * shingle overlap collapses to ~zero — pair counts grow
    * ~LINEARLY with m. "~": salting re-rolls every shingle's md5,
    * so borderline LSH captures re-randomize per replica, and the
    * unsalted FIRST token can break a shared shingle that sat at
    * one doc's start but mid-text in another — measured drift is
    * ~0.1% (full_pairs 2558 at m=10, 25582 at m=100, vs 2560/25600
    * for a perfectly invariant corpus), which the probe's
    * ratio-based claims tolerate. Plain identical copies would be
    * wrong qualitatively, not just at the margin: every doc would
    * near-dup its own replicas (clusters deepen with m) and bucket
    * pair counts would grow quadratically in m. m = 1 returns the
    * corpus unchanged.
    */
  def replicateDocs(s: SparkSession, docs: DataFrame, m: Int,
      n: Long): DataFrame = {
    require(m >= 1, s"replica count must be >= 1, got $m")
    val reps = s.range(m).select(col("id").as("r"))
    docs.select(col("doc_id"), col("text")).crossJoin(reps)
      .select((col("doc_id") + col("r") * n).as("doc_id"),
        when(col("r") === 0L, col("text"))
          .otherwise(regexp_replace(col("text"), lit(" "),
            concat(lit(" z"), col("r").cast("string"), lit("_"))))
          .as("text"))
  }

  /** Replicate the (vec_id, embedding) corpus `m` times, each
    * replica r > 0 SALTED by a signed coordinate permutation: a
    * cyclic dimension shift by md5("rot:r") % 64 followed by an
    * md5("sg:r:d")-bit sign flip per dimension. Both endpoints of a
    * within-replica pair transform identically and the transform is
    * orthogonal, so every within-replica cosine (and norm) is
    * EXACTLY preserved, while a cross-replica dot becomes a ±
    * scramble of SHIFTED-index products — measured on this corpus:
    * same-base-vector cross-replica cosine mean ~0, ≥ 0.35 in only
    * ~0.2% of base vectors (a plain per-replica sign flip from a
    * cheap linear hash was measured first and REJECTED: adjacent
    * replicas' patterns correlated and 58% of same-base pairs kept
    * cosine ≥ 0.35, fabricating quadratic pair growth). SemDeDup
    * pair counts over this corpus therefore measure ~m independent
    * copies of the base dup structure (~linear growth, ~0.2%
    * cross-replica leakage), not the every-vector-dups-its-own-
    * replicas blowup identical copies would fabricate. The salt
    * table is m x 64 doubles — broadcast. m = 1 returns the corpus
    * unchanged (cast to double, as the transform branch produces).
    */
  def replicateVecs(s: SparkSession, vecs: DataFrame, m: Int,
      n: Long): DataFrame = {
    require(m >= 1, s"replica count must be >= 1, got $m")
    // ONE hash discipline for every probe salt (round-13 advice: this
    // helper, the twin jitter, and queries.Hashing carried three
    // copies of the md5-prefix hash that must stay bit-identical)
    def h28(x: String): Long = graft.queries.Hashing.hash28Of(x)
    import s.implicits._
    val salts = (0 until m).map { r =>
      val sg = (0 until 64).map(d =>
        if (r == 0 || h28(s"sg:$r:$d") % 2 == 0L) 1.0 else -1.0)
      val sh = if (r == 0) 0L else h28(s"rot:$r") % 64L
      (r.toLong, sg, sh)
    }.toDF("r", "sg", "sh")
    vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(salts))
      .select((col("vec_id") + col("r") * n).as("vec_id"),
        // out[d] = sg[d] * v[(d - sh) mod 64] — the numpy
        // roll-then-flip order the rejection measurement used
        transform(col("sg"), (sgi, i) =>
          sgi * element_at(col("v"),
            (((i.cast("long") - col("sh") + 64L) % 64L) + 1L).cast("int")))
          .as("embedding"))
  }

  final case class LoopRun(rounds: Int, totalS: Double, roundS: Seq[Double],
      taskMs: Long)

  /** Run a probe-accepting loop as one [[timedLeg]], timing round
    * boundaries: the loops checkpoint each round before invoking the
    * probe, so probe-to-probe deltas ARE the per-round costs. Wall at
    * these sizes is per-job floor, so the scale exponent the 100-TB
    * claim rests on is the leg's task-ms growth against edge growth.
    */
  private def timeLoop(name: String)(
      run: ((Int, DataFrame) => Unit) => Int): LoopRun = {
    val marks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val probe = (_: Int, _: DataFrame) => {
      marks += (System.nanoTime() - t0) / 1e9; ()
    }
    val (rounds, total, tms) = timedLeg(name)(run(probe))
    val roundS = marks.toSeq.zip(0.0 +: marks.toSeq).map { case (b, a) => b - a }
    LoopRun(rounds, total, roundS, tms)
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def loopJson(r: LoopRun): String =
    s"""{"rounds":${r.rounds},"total_s":${fmt(r.totalS)},"task_ms":${r.taskMs},""" +
      s""""round_s":[${r.roundS.map(fmt).mkString(",")}]}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val base = graft.queries.Mining.sparseUnd(spark, sfDir)
      .localCheckpoint(true) // one derivation serves every scale
    val n = stride(base)
    val mod = anchorMod(base)
    // the incremental-dedup legs replicate the documents corpus —
    // one base derivation serves every scale, like the edge frame
    val docsBase = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val dn = docsBase.agg((max(col("doc_id")) + 1L).as("n"))
      .head().getLong(0)
    // two decades: m=10 shows round-count growth; m=100 makes the
    // per-round cost's ~linear edge dependence visible above the
    // fixed per-job overhead that dominates at the sf0.1 base size
    val scales = Seq(1, 10, 100).map { m =>
      val edges = replicate(spark, base, m, n, mod).localCheckpoint(true)
      val nEdges = edges.count()
      // ONE distinct node derivation serves the census AND the
      // giant-ring build below (at m=100 this union+distinct scans
      // the ~100x edge frame — doing it twice was a review finding)
      val nodeSet = edges.select(col("a").as("x"))
        .unionByName(edges.select(col("b").as("x"))).distinct()
        .localCheckpoint(true)
      val nNodes = nodeSet.count()
      var ccLabels: DataFrame = null
      val cc = timeLoop("cc") { p =>
        val (l, curve) = ops.connectedComponentsCurve(edges, "a", "b", probe = p)
        ccLabels = l
        curve.length
      }
      // warm-start cc legs (round-9, q217's scale evidence), two
      // changelogs: (1) MIXED — ~0.1% edge deletes plus
      // anchor-adjacent inserts; every component a delete touches
      // re-seeds, so when a delete hits the giant component the warm
      // run honestly degrades toward cold; (2) INSERTS-ONLY (below)
      // — the growing-corpus case where nothing re-seeds and warm
      // movement tracks the DELTA. The robust signal is the MOVEMENT
      // VOLUME, not the wall time. Both labelings must agree with a
      // cold rerun on the same delta graph — checked loudly.
      val ccDels = edges.filter((col("a") * 7L + col("b") * 11L) % 997L === 0L)
      val ccIns = nodeSet.filter(col("x") % 101L === 0L)
        .select(col("x").as("a"), (col("x") + 1L).as("b"))
      val ccDelta = edges.join(ccDels, Seq("a", "b"), "left_anti")
        .unionByName(ccIns).distinct().localCheckpoint(true)
      val ((warmLab, warmCurve), warmS, _) = timedLeg("cc_warm")(
        ops.incrementalConnectedComponents(ccLabels, ccDelta, ccDels, "a", "b"))
      val ((coldLab, coldCurve), coldS, _) =
        timedLeg("cc_cold")(ops.connectedComponentsCurve(ccDelta, "a", "b"))
      val agree = warmLab.join(coldLab, Seq("id"))
        .filter(warmLab("component") =!= coldLab("component")).isEmpty
      require(agree, "warm-start cc labels diverge from the cold rerun")
      graft.Ck.release(warmLab)
      graft.Ck.release(coldLab)
      // ccDelta stays checkpointed: the q178-core warm-pagerank leg
      // below reuses the same churned graph (released there)
      // INSERTS-ONLY warm leg — the headline growing-corpus case
      // (yesterday's clusters + today's shard, no deletes): nothing
      // re-seeds, so warm movement must track the DELTA while the
      // cold rerun re-derives the corpus. The mixed leg above shows
      // the honest degradation when deletes touch the giant
      // component; this leg shows the advantage the warm start
      // exists for.
      val insDelta = edges.unionByName(ccIns).distinct().localCheckpoint(true)
      val ((insLab, insCurve), insS, _) = timedLeg("cc_ins")(ops.incrementalConnectedComponents(
        ccLabels, insDelta, edges.filter(lit(false)), "a", "b"))
      val ((coldInsLab, coldInsCurve), coldInsS, _) =
        timedLeg("cc_ins_cold")(ops.connectedComponentsCurve(insDelta, "a", "b"))
      val agreeIns = insLab.join(coldInsLab, Seq("id"))
        .filter(insLab("component") =!= coldInsLab("component")).isEmpty
      require(agreeIns, "inserts-only warm cc labels diverge from the cold rerun")
      graft.Ck.release(ccLabels)
      graft.Ck.release(insLab)
      graft.Ck.release(coldInsLab)
      graft.Ck.release(insDelta)
      val ccWarmJson =
        s"""{"warm_rounds":${warmCurve.length},"cold_rounds":${coldCurve.length},""" +
          s""""warm_mv":${warmCurve.map(_._2).sum},"cold_mv":${coldCurve.map(_._2).sum},""" +
          s""""warm_s":${fmt(warmS)},"cold_s":${fmt(coldS)},""" +
          s""""ins_rounds":${insCurve.length},"ins_cold_rounds":${coldInsCurve.length},""" +
          s""""ins_mv":${insCurve.map(_._2).sum},"ins_cold_mv":${coldInsCurve.map(_._2).sum},""" +
          s""""ins_s":${fmt(insS)},"ins_cold_s":${fmt(coldInsS)}}"""
      // seeds only in replica 0, so the frontier must walk the
      // bridge chain — hop count grows with m by construction
      val seed: Column => Column = c => c < lit(n) && c % mod === 0L
      // BFS hops grow ~linearly with the chain length by
      // construction, so the FAILURE bound must scale with m too
      val bfs = timeLoop("bfs") { p =>
        val (dist, hops) = ops.bfsDistances(edges, "a", "b", seed,
          maxHops = 40 + 2 * m, probe = p)
        graft.Ck.release(dist)
        hops
      }
      // capture the cold fixpoint ranks: the q178-core leg below
      // warm-starts from them (the ccLabels pattern)
      var prRanks: DataFrame = null
      val pr = timeLoop("pr") { p =>
        val (r0, _, rounds0) = ops.pagerank(edges, "a", "b",
          epsPerNode = 1000L, maxRounds = 60, probe = p)
        prRanks = r0
        rounds0
      }
      // peel depth is flat in m only when the bridge anchors sit in
      // the 2-core (sf0.1: 4 rounds at m=1/10/100). An anchor outside
      // it becomes a bridge chain x_0..x_{m-1} that loses only its end
      // nodes each round: at sf0.001 (15 nodes, 3 edges, anchor mod 7)
      // the m=100 survivor curve falls 200, 196, ..., 4, 0 — four per
      // round, two chains with two ends each — and settles in 52
      // rounds (m=10: 7). Two chains joined through a base path peel
      // in up to ~2m rounds, so the bound scales with m like BFS's.
      val kc = timeLoop("kcore")(p =>
        ops.kcore(edges, "a", "b", 2, maxRounds = 40 + 2 * m, probe = p)._2)
      // q196-CORE leg (r17, verdict item 6): HITS on the replicated
      // graph — the r16 dual-orientation caches + id-partitioned
      // score checkpoints make every half-step's aggregation
      // complete-mode over a one-time layout, so the claim under
      // test is that task-ms tracks EDGES ~linearly across decades
      // (8 fixed half-steps; no per-half-step edge re-shuffle to
      // grow quadratically in block count — guide §2.2's failure
      // shape). Wall at these sizes is per-job floor; read task_ms.
      val (hitsN, hitsS, hitsTms) = timedLeg("hits") {
        val out = ops.hits(edges, "a", "b")
        val c = out.count()
        graft.Ck.release(out)
        c
      }
      val hitsJson =
        s"""{"nodes_scored":$hitsN,"wall_s":${fmt(hitsS)},"task_ms":$hitsTms}"""
      // SCC: orient every canonical edge a->b and close a back-edge
      // for the (a+b) % 3 == 0 subset of WITHIN-REPLICA edges only
      // (b - a < n; a back-closed bridge would snake one SCC across
      // every replica and the backward collect's depth would track m
      // instead of the local structure): each replica carries local
      // cycles, the one-way bridges chain the CONDENSATION — outer
      // rounds track SCC layering, trim eats the DAG part, per-round
      // cost tracks edges, component structure stays scale-invariant
      val dirE = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(edges.filter((col("a") + col("b")) % 3 === 0L &&
            col("b") - col("a") < n)
          .select(col("b").as("src"), col("a").as("dst")))
        .distinct().localCheckpoint(true)
      graft.LoopStats.drain()
      val (nScc, sccS, sccTms) = timedLeg("scc") {
        val l = ops.scc(dirE, "src", "dst")
        try l.select(col("scc")).distinct().count() finally graft.Ck.release(l)
      }
      graft.Ck.release(dirE)
      val sccStats = graft.LoopStats.drain()
      val sccRounds = sccStats.getOrElse("scc", -1L)
      val sccBw = sccStats.getOrElse("scc_bw", -1L)
      // giant-SCC leg (round-7 verdict item 2): ONE directed ring
      // over the full replicated node space — a single SCC whose
      // backward diameter equals the node count. The doubled collect
      // must finish in O(log n) rounds; the old one-step-per-round
      // frontier needed n rounds and would trip its loud guard at
      // ANY web-graph scale (every web graph has a giant SCC).
      val ringNodes = nodeSet
      val mn = ringNodes.agg(min(col("x")).as("mn"))
      // global-window lead: probe-only single-task ordering, fine at
      // probe sizes (production rings don't exist; the LOOP under
      // test is fully distributed)
      val wAll = org.apache.spark.sql.expressions.Window.orderBy("x")
      val ring = ringNodes
        .withColumn("nxt", lead(col("x"), 1).over(wAll))
        .crossJoin(broadcast(mn))
        .select(col("x").as("src"), coalesce(col("nxt"), col("mn")).as("dst"))
        .localCheckpoint(true)
      val nRing = ring.count()
      graft.LoopStats.drain()
      val (nRingScc, ringS, ringTms) = timedLeg("giant_scc") {
        val l = ops.scc(ring, "src", "dst")
        try l.select(col("scc")).distinct().count() finally graft.Ck.release(l)
      }
      graft.Ck.release(ring)
      val ringStats = graft.LoopStats.drain()
      val ringBw = ringStats.getOrElse("scc_bw", -1L)
      require(nRingScc == 1L, s"ring must be ONE scc, got $nRingScc")
      // q216-CORE leg (round-15, verdict item 6 — the heavy-graph
      // scale evidence): the 2-sweep diameter estimate (cc + two BFS
      // sweeps over one edge derivation) on the replicated graph.
      // Hop counts track STRUCTURE — chain replication grows the
      // diameter ~linearly in m by construction, so sweeps deepen
      // with m — while per-round work must track EDGES: wall at
      // these sizes is per-job floor x rounds, so the task-ms-vs-edge
      // exponent is what the 100-TB claim rests on. maxHops scales
      // with m like the BFS leg (the diameter genuinely grows).
      graft.LoopStats.drain()
      val (diamRow, diamS, diamTms) =
        timedLeg("diameter")(ops.diameterSweep(edges, "a", "b", maxHops = 40 + 2 * m).head())
      val diamStats = graft.LoopStats.drain()
      val diameterJson =
        s"""{"cc_rounds":${diamStats.getOrElse("cc", -1L)},""" +
          s""""sweep1_hops":${diamStats.getOrElse("bfs_sweep1", -1L)},""" +
          s""""sweep2_hops":${diamStats.getOrElse("bfs_sweep2", -1L)},""" +
          s""""n_nodes_big":${diamRow.getLong(1)},""" +
          s""""diameter_lb":${diamRow.getLong(5)},""" +
          s""""wall_s":${fmt(diamS)},"task_ms":$diamTms}"""
      // q225-CORE leg (round-15): sampled closeness centrality with
      // a FIXED seed budget — the Eppstein–Wang posture: the seed
      // count is Θ(log n/ε²), i.e. ~CONSTANT as the corpus grows, so
      // the (node, seed) state grows LINEARLY in nodes, never
      // quadratically. Seeds live in replica 0 only (the BFS leg's
      // predicate), so the per-seed frontiers must walk the bridge
      // chain — hops track the chain diameter while task-ms tracks
      // nodes × (fixed) seeds.
      val ((clCensus, clHops), clS, clTms) = timedLeg("closeness") {
        val (cent, h) = graft.api.ops.closenessSample(
          edges, "a", "b", c => c < lit(n) && c % mod === 0L,
          maxHops = 40 + 2 * m)
        val r = cent.agg(count(lit(1)).as("nodes"),
          sum(col("n_seed")).as("pairs"),
          count(when(col("n_seed") === 0L, 1)).as("unreached")).head()
        graft.Ck.release(cent)
        (r, h)
      }
      val closenessJson =
        s"""{"hops":$clHops,"nodes":${clCensus.getLong(0)},""" +
          s""""reached_pairs":${clCensus.getLong(1)},""" +
          s""""unreached_nodes":${clCensus.getLong(2)},""" +
          s""""wall_s":${fmt(clS)},"task_ms":$clTms}"""
      // q178-CORE leg (round-15, verdict item 6): warm-start
      // pagerank on the churned graph (ccDelta — the cc legs' ~0.1%
      // delete + anchor-insert changelog) initialized from the base
      // fixpoint, vs a cold start on the SAME churned graph. The
      // claims: warm movement tracks the delta's disturbance (not
      // corpus size) at every scale, and cold task-ms carries the
      // edge-growth exponent.
      def prLeg(name: String, init: Option[DataFrame]) = timedLeg(name) {
        val (ranks, curve, rounds) = ops.pagerank(ccDelta, "a", "b",
          epsPerNode = 1000L, maxRounds = 60, init = init)
        graft.Ck.release(ranks)
        (rounds, curve)
      }
      val (prWarmRes, prWarmS, prWarmTms) = prLeg("pr_warm", Some(prRanks))
      val (prColdRes, prColdS, prColdTms) = prLeg("pr_cold", None)
      graft.Ck.release(prRanks)
      graft.Ck.release(ccDelta)
      val prWarmJson =
        s"""{"warm_rounds":${prWarmRes._1},"cold_rounds":${prColdRes._1},""" +
          s""""warm_mv":${prWarmRes._2.map(_._2).sum},""" +
          s""""cold_mv":${prColdRes._2.map(_._2).sum},""" +
          s""""warm_s":${fmt(prWarmS)},"cold_s":${fmt(prColdS)},""" +
          s""""warm_tms":$prWarmTms,"cold_tms":$prColdTms}"""
      // SEMDEDUP leg (round-13, q222's scale evidence): replicate
      // the embedding corpus with orthogonal per-replica salts (see
      // replicateVecs) and PLANT one genuine near-dup twin (a fixed
      // ±2% per-dim jitter; cosine ≈ 0.9998) for every 4th vector of
      // every replica — the replicateDocs discipline transplanted to
      // vectors. The leg runs at τ = 0.9, where the planted twins
      // are the ONLY structure: measured on this corpus, ~0.2% of
      // INDEPENDENT vector pairs exceed the production τ = 0.35 in
      // 64 dims (a data property — two unrelated shards of this
      // corpus genuinely weak-match at that rate), so at τ = 0.35
      // total pair count grows ~quadratically in m NO MATTER how the
      // operator blocks (a first cut measured it: 559 → 26,490 pairs
      // at m=10, dominated by true cross-replica weak similarity) —
      // the probe raises τ so pair growth measures the OPERATOR, not
      // the corpus's weak-similarity base rate. Claims under test
      // with the corpus-scaled k = ceil(sqrt(N)) codebook:
      // (1) found-pair count tracks the planted (linear-in-m)
      // structure; (2) cross-replica pairs stay ~0 at τ = 0.9;
      // (3) cell balance holds (max cell a small multiple of the
      // mean), so no cell re-creates the all-pairs blowup the
      // blocking exists to avoid. Census-only consumption (the kept
      // frame is released like q222 does).
      val vecsBase = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val vn = vecsBase.agg((max(col("vec_id")) + 1L).as("n"))
        .head().getLong(0)
      val vecsRep = replicateVecs(spark, vecsBase, m, vn)
      // planted twins: ids shift by totN, so replica of any id is
      // ((id mod totN) div vn) and twin-ness is (id >= totN)
      val totN = vn * m
      val twinJ = (0 until 64).map(d =>
        if (graft.queries.Hashing.hash28Of(s"tw:$d") % 2 == 0L) 1.02
        else 0.98)
      val sdCorpus = vecsRep.unionByName(
          vecsRep.filter(col("vec_id") % 4L === 0L)
            .select((col("vec_id") + totN).as("vec_id"),
              zip_with(col("embedding"),
                lit(twinJ.toArray), (x, j) => x * j).as("embedding")))
        .localCheckpoint(true)
      val nVecs = sdCorpus.count()
      // planted-twin count measured from the corpus itself (twin-ness
      // IS vec_id >= totN): nVecs - totN only equals it under dense
      // 0..vn-1 base ids, which the testdata happens to satisfy but
      // nothing enforces (round-13 advice)
      val nPlanted = sdCorpus.filter(col("vec_id") >= totN).count()
      graft.Ck.release(vecsBase)
      val sdBook = graft.queries.Vectors.semCodebookOf(sdCorpus)
      val sdTau = 0.9
      val ((sdCensus, sdRounds), sdS, sdTms) = timedLeg("semdedup") {
        val (sdKept, c, r) = ops.semDedup(
          sdCorpus, sdBook, "vec_id", "embedding", sdTau)
        graft.Ck.release(sdKept)
        (c, r)
      }
      val sdRow = sdCensus.agg(
        count(lit(1)).as("k"),
        sum(col("n_pairs")).as("pairs"),
        sum(col("n_components")).as("comps"),
        sum(col("n_removed")).as("removed"),
        max(col("n_vecs")).as("max_cell"),
        avg(col("n_vecs")).as("mean_cell")).head()
      graft.Ck.release(sdCensus)
      // within/cross-replica pair split (one extra pair-stage pass,
      // outside wall_s): within(m) ≈ planted twins is the linearity
      // claim; cross ~0 is the τ = 0.9 independence claim —
      // reporting both keeps the "~linear" read honest
      val avP = graft.api.ops.semDedupAssigned(
          sdCorpus, sdBook, "vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sdSplit = graft.api.ops.semDedupPairs(avP, sdTau)
        .agg(count(lit(1)).as("tot"),
          count(when(expr(s"(__i % ${totN}L) div ${vn}L") ===
            expr(s"(__j % ${totN}L) div ${vn}L"), 1)).as("within")).head()
      avP.unpersist(blocking = false)
      graft.Ck.release(sdCorpus)
      require(sdSplit.getLong(0) == sdRow.getLong(1),
        s"semdedup split pass pairs ${sdSplit.getLong(0)} != census ${sdRow.getLong(1)}")
      val semdedupJson =
        s"""{"vecs":$nVecs,"planted":$nPlanted,"tau":$sdTau,""" +
          s""""k":${sdRow.getLong(0)},""" +
          s""""pairs":${sdRow.getLong(1)},""" +
          s""""pairs_within":${sdSplit.getLong(1)},""" +
          s""""pairs_cross":${sdSplit.getLong(0) - sdSplit.getLong(1)},""" +
          s""""components":${sdRow.getLong(2)},""" +
          s""""removed":${sdRow.getLong(3)},"max_cell":${sdRow.getLong(4)},""" +
          s""""mean_cell":${fmt(sdRow.getDouble(5))},""" +
          s""""cc_rounds":$sdRounds,"wall_s":${fmt(sdS)},"task_ms":$sdTms}"""
      // MARGIN-MINE leg (round-16, verdict item 4): q224's blocking
      // is corpus-scaled now (ops.autoPlanes — the semdedup-codebook
      // discipline), and this leg is its measured evidence. Claims
      // under test on the salted-replica vector corpus: (1) the
      // auto plane count grows one per corpus doubling past the
      // 4096-rows-per-side floor (1000→4, 10k→6, 100k→9 planes);
      // (2) CANDIDATE pairs — the quantity a fixed plane count lets
      // grow quadratically — stay ~linear per vector (cand/side
      // ~flat across decades); (3) the full miner completes with
      // sane wall/task-ms growth. The counterfactual fixed-4-plane
      // candidate count is measured at m <= 10 only (at m=100 it IS
      // the ~625M-pair quadratic blowup the auto scaling exists to
      // avoid — measuring it would spend minutes proving the point
      // the m=10 ratio already makes).
      val mmBase = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val mmVn = mmBase.agg((max(col("vec_id")) + 1L).as("n"))
        .head().getLong(0)
      // vn is even at every sf, so the +r*vn shift preserves parity
      // and the sides stay balanced across replicas
      require(mmVn % 2 == 0, s"odd vec stride $mmVn breaks the parity split")
      val mmRep = replicateVecs(spark, mmBase, m, mmVn).localCheckpoint(true)
      graft.Ck.release(mmBase)
      val mmA = mmRep.filter(col("vec_id") % 2 === 0L)
      val mmB = mmRep.filter(col("vec_id") % 2 === 1L)
      val mmNa = mmA.count(); val mmNb = mmB.count()
      val mmPlanes = ops.autoPlanes(math.max(mmNa, mmNb))
      val (mmMined, mmS, mmTms) = timedLeg("margin_mine") {
        // the production path: planes resolve to mmPlanes internally
        ops.marginMine(mmA, mmB, "vec_id", "embedding").count()
      }
      // candidate counts outside the timed leg (the miner already
      // paid its own candidate stage inside wall_s)
      val mmCand = ops.marginCandidates(
        mmA, mmB, "vec_id", "embedding", mmPlanes).count()
      val mmCandFixed4 =
        if (m <= 10) ops.marginCandidates(
          mmA, mmB, "vec_id", "embedding", 4).count()
        else -1L
      graft.Ck.release(mmRep)
      val marginJson =
        s"""{"side_a":$mmNa,"side_b":$mmNb,"planes":$mmPlanes,""" +
          s""""cand_pairs":$mmCand,"cand_pairs_fixed4":$mmCandFixed4,""" +
          s""""mined":$mmMined,"wall_s":${fmt(mmS)},"task_ms":$mmTms}"""
      // INCREMENTAL-DEDUP leg (round-9, q218's scale evidence): the
      // salted-replica corpus (see replicateDocs) keeps dup-cluster
      // structure scale-invariant, so the claims under test are
      // measurable in isolation: (1) the delta-restricted candidate
      // pass stays DELTA-PROPORTIONAL — delta_pairs / full_pairs
      // tracks the delta share at every scale; (2) warm-start
      // clustering moves only the delta's disturbance — warm_mv <<
      // cold_mv with a flat ratio across scales; (3) the labels
      // agree with a cold rerun (checked loudly, like the cc legs).
      val docsRep = replicateDocs(spark, docsBase, m, dn)
        .localCheckpoint(true)
      val nDocs = docsRep.count()
      val dBase = docsRep.filter(col("doc_id") % 8L =!= 0L)
      val dDelta = docsRep.filter(col("doc_id") % 8L === 0L)
      val ((ndLab0, ndCurve0), lb0S, lb0Tms) =
        timedLeg("nd_base")(ops.nearDupLabels(dBase, "doc_id", "text"))
      // BAND-SHARE A/B (r17, verdict item 6 — the r16 day-job
      // mechanism measured at scale): the r16 dedup day jobs derive
      // the base corpus's shingle + 12-perm minhash band table ONCE
      // and hand it to both passes (precomputedBands). The
      // counterfactual pair here: the SAME cold labeling fed a
      // pre-materialized band table vs the self-derived default
      // above — the task-ms gap IS one signature scan of the
      // corpus, the thing the sharing saves per day job, and it
      // must grow ~linearly with the corpus while the local sf0.1
      // bench hides it under the per-job floor (r16 verdict item 5:
      // "scale evidence is plan-shaped, not measured" — this leg
      // converts it). bs_prep_s prices the scan itself.
      val (bsBands, bsPrepS, bsPrepTms) = timedLeg("band_share_prep")(
        ops.nearDupBands(dBase, "doc_id", "text").localCheckpoint(true))
      val ((bsLabN), bsSharedS, bsSharedTms) = timedLeg("band_share") {
        val (l, c) = ops.nearDupLabels(dBase, "doc_id", "text",
          precomputedBands = Some(bsBands))
        require(c.map(_._2).sum == ndCurve0.map(_._2).sum,
          "band-shared labeling's movement diverges from the self-derived run")
        val n = l.count()
        graft.Ck.release(l)
        n
      }
      graft.Ck.release(bsBands)
      val bandShareJson =
        s"""{"self_s":${fmt(lb0S)},"self_tms":$lb0Tms,""" +
          s""""shared_s":${fmt(bsSharedS)},"shared_tms":$bsSharedTms,""" +
          s""""prep_s":${fmt(bsPrepS)},"prep_tms":$bsPrepTms,""" +
          s""""labels":$bsLabN}"""
      val (pdCount, pdS, _) = timedLeg("nd_delta_pairs")(ops.incrementalNearDupPairs(
        dBase, dDelta, "doc_id", "text", 0.5).count())
      // same pass with the delta-proportional verify (pinCandidates):
      // the candidate endpoint ids broadcast-semi-filter the shingle
      // scan map-side, so the verify exchanges carry candidate-
      // adjacent docs instead of the corpus. Runs after the default
      // pass in the same JVM (warmer), so read the ratio as an upper
      // bound on the win.
      val ((pdPinned, pdPinCount), pdPinS, _) = timedLeg("nd_delta_pairs_pin") {
        val (pdPin, pinned) = ops.incrementalNearDupPairsEx(
          dBase, dDelta, "doc_id", "text", 0.5, None, pinCandidates = true)
        (pinned, pdPin.count())
      }
      require(pdPinCount == pdCount,
        s"pinned delta pairs $pdPinCount != default $pdCount")
      // release the precise handle — Ck.release(pdPin) would walk the
      // whole plan into docsRep's checkpoint (the shingle side reads
      // the replicated corpus), killing every later leg
      pdPinned.foreach(graft.Ck.release)
      val (fullPairs, fpS, _) =
        timedLeg("nd_full_pairs")(ops.nearDupPairs(docsRep, "doc_id", "text", 0.5).count())
      // pinCandidates = false: pinning is the wrapper DEFAULT since
      // round 10, so the A/B baseline forces the cold verify shape
      val ((ndLab1, ndCurve1, ndKeptN), ndWarmS, _) = timedLeg("nd_warm") {
        val (kept, lab, curve) = ops.nearDupDedupIncremental(
          dBase, dDelta, "doc_id", "text", ndLab0, pinCandidates = false)
        (lab, curve, kept.count())
      }
      val ((ndColdLab, ndColdCurve), ndColdS, _) =
        timedLeg("nd_cold")(ops.nearDupLabels(docsRep, "doc_id", "text"))
      // exact SET equality (two anti-joins), not count+intersection:
      // a warm run dropping node X while cold drops node Y keeps the
      // counts equal and the intersection agreeing — the weaker check
      // would certify a divergent labeling
      def sameLabels(a: DataFrame, b: DataFrame): Boolean =
        a.join(b, Seq("id", "component"), "left_anti").isEmpty &&
          b.join(a, Seq("id", "component"), "left_anti").isEmpty
      require(sameLabels(ndLab1, ndColdLab),
        "incremental dedup labels diverge from the cold rerun")
      // warm insert day again with the delta-proportional verify
      val ((ndLabP, ndKeptPN), ndPinS, _) = timedLeg("nd_warm_pin") {
        val (kept, lab, _) = ops.nearDupDedupIncremental(
          dBase, dDelta, "doc_id", "text", ndLab0, pinCandidates = true)
        (lab, kept.count())
      }
      require(ndKeptPN == ndKeptN, s"pinned kept $ndKeptPN != $ndKeptN")
      require(sameLabels(ndLabP, ndColdLab),
        "pinned incremental dedup labels diverge from the cold rerun")
      graft.Ck.release(ndLabP)
      // TAKEDOWN leg (q219's scale evidence): a full-CDC day — the
      // same insert shard PLUS takedowns drawn from the labeled dup
      // subset (id % 3, q219's split: every deletion disturbs a
      // cluster). The claims: warm movement tracks the disturbed
      // subset, not the corpus, and labels agree with a cold rerun
      // on the surviving corpus at every scale.
      val ndDel = ndLab0.filter(col("id") % 3L === 0L)
        .select(col("id").as("doc_id")).localCheckpoint(true)
      val ndDelN = ndDel.count()
      val ndDelAff = ndLab0
        .join(ndDel.withColumnRenamed("doc_id", "id"), "id")
        .select(col("component")).distinct().count()
      // bootstrap-day shape: NO band table handed in, so the warm
      // pass re-derives corpus signatures (survivor bands for the
      // disturbed re-verify + union shingles for the verify) — the
      // cost a day-0 caller pays; the steady-state day is the
      // `del_warm_bands` leg below. Cold verify shape forced
      // (pinning is the default since r10).
      val ((delRun, delKeptN), delWarmS, delWarmTms) = timedLeg("nd_del_warm") {
        val (delKept, delLab, delCurve) = ops.nearDupDedupDelta(
          dBase, dDelta, ndDel, "doc_id", "text", ndLab0,
          pinCandidates = false)
        ((delLab, delCurve), delKept.count())
      }
      val (delLab, delCurve) = delRun
      val surv = docsRep.join(ndDel, Seq("doc_id"), "left_anti")
      val ((delColdRun, _), delColdS, delColdTms) = timedLeg("nd_del_cold") {
        val (l, c) = ops.nearDupLabels(surv, "doc_id", "text")
        ((l, c), l.count())
      }
      val (delColdLab, delColdCurve) = delColdRun
      require(sameLabels(delLab, delColdLab),
        "takedown dedup labels diverge from the cold rerun")
      // full-CDC day again with the delta-proportional verify
      val ((delLabP, delKeptPN), delPinS, _) = timedLeg("nd_del_warm_pin") {
        val (kept, lab, _) = ops.nearDupDedupDelta(
          dBase, dDelta, ndDel, "doc_id", "text", ndLab0, pinCandidates = true)
        (lab, kept.count())
      }
      require(delKeptPN == delKeptN, s"pinned del kept $delKeptPN != $delKeptN")
      require(sameLabels(delLabP, delColdLab),
        "pinned takedown dedup labels diverge from the cold rerun")
      graft.Ck.release(delLabP)
      // ONE-CALL day-N composition (ops.corpusDay, round-10): the
      // same full-CDC day as the takedown leg, run through the
      // orchestrated job WITH band-table reuse — yesterday's band
      // table is materialized separately (bands_prep_s: the amortized
      // day-N−1 artifact cost), so corpusday_s is what the steady-
      // state daily job actually pays. Claims measured: the one-call
      // form adds no hidden blowup over its pieces (compare to
      // del_warm_pin_s + the band composition), its labels equal the
      // cold rerun at every scale (loud), and its band artifact is
      // exactly the surviving corpus's band count.
      val (bandsRep, bandsPrepS, _) = timedLeg("nd_bands_prep")(
        ops.nearDupBands(dBase, "doc_id", "text").localCheckpoint(true))
      // STEADY-STATE takedown day (round-11 verdict item 2): the
      // uncomposed nearDupDedupDelta call as a production day makes
      // it — yesterday's materialized band table handed in (its
      // amortized cost is bands_prep_s, reported separately). The
      // bootstrap leg above quantifies what the handoff saves; the
      // task-ms split attributes the gap to WORK (corpus signature
      // re-derivation), not per-job floor.
      val ((delBandsRun, delBandsKeptN), delBandsS, delBandsTms) = timedLeg("nd_del_warm_bands") {
        val (k, l, _) = ops.nearDupDedupDelta(
          dBase, dDelta, ndDel, "doc_id", "text", ndLab0,
          oldBands = Some(bandsRep), pinCandidates = false)
        (l, k.count())
      }
      require(delBandsKeptN == delKeptN,
        s"steady-state del kept $delBandsKeptN != $delKeptN")
      require(sameLabels(delBandsRun, delColdLab),
        "steady-state takedown labels diverge from the cold rerun")
      graft.Ck.release(delBandsRun)
      val ((day, cdKeptN), cdS, _) = timedLeg("corpusday") {
        val d = ops.corpusDay(dBase, dDelta, ndDel, "doc_id", "text",
          ndLab0, oldBands = Some(bandsRep))
        (d, d.kept.count())
      }
      require(cdKeptN == delKeptN, s"corpusDay kept $cdKeptN != $delKeptN")
      require(sameLabels(day.labels, delColdLab),
        "corpusDay labels diverge from the cold rerun")
      val cdBandsN = day.bands.count()
      val survBandsN = ops.nearDupBands(surv, "doc_id", "text").count()
      require(cdBandsN == survBandsN,
        s"corpusDay band artifact $cdBandsN != surviving corpus bands $survBandsN")
      graft.Ck.release(day.labels)
      graft.Ck.release(day.bands)
      graft.Ck.release(bandsRep)
      graft.Ck.release(ndDel)
      graft.Ck.release(delLab)
      graft.Ck.release(delColdLab)
      graft.Ck.release(ndLab0)
      graft.Ck.release(ndLab1)
      graft.Ck.release(ndColdLab)
      graft.Ck.release(docsRep)
      val dedupJson =
        s"""{"docs":$nDocs,"full_pairs":$fullPairs,"delta_pairs":$pdCount,""" +
          s""""full_pairs_s":${fmt(fpS)},"delta_pairs_s":${fmt(pdS)},""" +
          s""""delta_pairs_pin_s":${fmt(pdPinS)},""" +
          s""""warm_pin_s":${fmt(ndPinS)},"del_warm_pin_s":${fmt(delPinS)},""" +
          s""""base_rounds":${ndCurve0.length},"base_s":${fmt(lb0S)},""" +
          s""""warm_rounds":${ndCurve1.length},"cold_rounds":${ndColdCurve.length},""" +
          s""""warm_mv":${ndCurve1.map(_._2).sum},"cold_mv":${ndColdCurve.map(_._2).sum},""" +
          s""""warm_s":${fmt(ndWarmS)},"cold_s":${fmt(ndColdS)},"kept":$ndKeptN,""" +
          s""""del_n":$ndDelN,"del_aff":$ndDelAff,""" +
          s""""del_warm_rounds":${delCurve.length},"del_cold_rounds":${delColdCurve.length},""" +
          s""""del_warm_mv":${delCurve.map(_._2).sum},"del_cold_mv":${delColdCurve.map(_._2).sum},""" +
          s""""del_warm_s":${fmt(delWarmS)},"del_cold_s":${fmt(delColdS)},"del_kept":$delKeptN,""" +
          s""""del_warm_tms":$delWarmTms,"del_cold_tms":$delColdTms,""" +
          s""""del_warm_bands_s":${fmt(delBandsS)},"del_warm_bands_tms":$delBandsTms,""" +
          s""""corpusday_s":${fmt(cdS)},"bands_prep_s":${fmt(bandsPrepS)},""" +
          s""""corpusday_bands":$cdBandsN}"""
      val line = s"""{"m":$m,"edges":$nEdges,"nodes":$nNodes,""" +
        s""""semdedup":$semdedupJson,""" +
        s""""margin_mine":$marginJson,""" +
        s""""dedup":$dedupJson,""" +
        s""""cc":${loopJson(cc)},"cc_warm":$ccWarmJson,"bfs":${loopJson(bfs)},""" +
        s""""pr":${loopJson(pr)},"kcore":${loopJson(kc)},""" +
        s""""hits":$hitsJson,"band_share":$bandShareJson,""" +
        s""""scc":{"outer_rounds":$sccRounds,"bw_rounds":$sccBw,""" +
        s""""bail_at":${sccStats.getOrElse("scc_bail_at", -1L)},""" +
        s""""total_s":${fmt(sccS)},"task_ms":$sccTms,"n_sccs":$nScc},""" +
        s""""giant_scc":{"ring_nodes":$nRing,"bw_rounds":$ringBw,""" +
        s""""bail_at":${ringStats.getOrElse("scc_bail_at", -1L)},""" +
        s""""outer_rounds":${ringStats.getOrElse("scc", -1L)},""" +
        s""""total_s":${fmt(ringS)},"task_ms":$ringTms,"n_sccs":$nRingScc},""" +
        s""""diameter":$diameterJson,""" +
        s""""closeness":$closenessJson,""" +
        s""""pr_warm":$prWarmJson,""" +
        s""""legs":{${legRows.mkString(",")}}}"""
      legRows.clear()
      // one human-readable summary per scale as the run progresses
      println(s"[scale-probe] m=$m edges=$nEdges cc=${cc.rounds}r/" +
        s"${fmt(cc.totalS)}s ccwarm=${warmCurve.length}r/" +
        s"mv${warmCurve.map(_._2).sum}(cold ${coldCurve.length}r/" +
        s"mv${coldCurve.map(_._2).sum}) bfs=${bfs.rounds}r/${fmt(bfs.totalS)}s " +
        s"pr=${pr.rounds}r/${fmt(pr.totalS)}s kcore=${kc.rounds}r/" +
        s"${fmt(kc.totalS)}s scc=${sccRounds}r(bw$sccBw)/${fmt(sccS)}s/" +
        s"${nScc}sccs giant=${nRing}n/bw${ringBw}r/${fmt(ringS)}s " +
        s"dedup=${pdCount}dp/${fullPairs}fp warm_mv=${ndCurve1.map(_._2).sum}" +
        s"/cold_mv=${ndColdCurve.map(_._2).sum} " +
        s"semdedup=${sdRow.getLong(1)}p/k${sdRow.getLong(0)}/" +
        s"${fmt(sdS)}s margin=${mmPlanes}pl/${mmCand}cp/${mmMined}m/" +
        s"${fmt(mmS)}s diam=${diamRow.getLong(5)}lb/${fmt(diamS)}s " +
        s"closeness=${clHops}h/${fmt(clS)}s " +
        s"prwarm=${prWarmRes._1}r(cold ${prColdRes._1}r) " +
        s"hits=${fmt(hitsS)}s/${hitsTms}tms " +
        s"bandshare=self${fmt(lb0S)}s/${lb0Tms}tms" +
        s"+shared${fmt(bsSharedS)}s/${bsSharedTms}tms")
      // the m=100 edge frame is ~100x the base — release its blocks
      // before the next scale builds its own (base stays: it serves
      // every scale)
      graft.Ck.release(nodeSet)
      graft.Ck.release(edges)
      line
    }
    graft.Ck.release(docsBase)
    val json = s"""{"sf_dir":"$sfDir","cpus":$cpus,"stride":$n,"anchor_mod":$mod,""" +
      s""""scales":[${scales.mkString(",")}]}"""
    // named after the scale read, so a small-scale run never
    // overwrites another scale's artifact
    val sf = java.nio.file.Paths.get(sfDir).getFileName
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_PROBE.$sf.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
