package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.SqlSurface
import graft.functions.GraftFunctions
import graft.queries.{Curation, Mining}

/** Pins the SQL-first entry surface PLAN-EQUAL to the DataFrame
  * forms: a SQL-only user who runs `SqlSurface.sql` texts against
  * `registerViews` gets the same optimized plan — same pushdown,
  * same broadcast sides, same partial aggregation — as the Scala
  * API, not a second implementation that happens to agree. One
  * representative query per family (relational q01, dedup q23,
  * retrieval q88, hybrid fusion q185) plus the convergence loops (q161 connected
  * components, q175 PageRank, q181 k-core, q196 HITS, q199 SCC),
  * whose SQL round bodies are pinned against the exact production
  * round bodies and whose loops must match round-for-round.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val ready: Unit = {
    GraftFunctions.ensureRegistered(spark)
    SqlSurface.registerViews(spark, dir)
  }

  private def pinPlanEqual(name: String, df: DataFrame, sq: DataFrame): Unit = {
    val a = df.queryExecution.optimizedPlan
    val b = sq.queryExecution.optimizedPlan
    assert(a.sameResult(b),
      s"$name: SQL plan diverges from DataFrame plan\n--- DataFrame ---\n$a\n--- SQL ---\n$b")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  /** Jobs of one counted run of `run` (each frame counted), after a
    * warm-up run that fills the schema memo and the spread copies
    * (JobBudgetSpec's method); both runs' frames are released.
    */
  private def jobs(name: String)(run: => Seq[DataFrame]): Long = {
    run.foreach(Ck.release) // warm-up
    var out: Seq[DataFrame] = Nil
    val n = countJobs(s"sqlsurface_$name") {
      out = run; out.foreach(_.count())
    }
    out.foreach(Ck.release)
    n
  }

  /** The SQL surface's form of `name` runs as many jobs as the
    * DataFrame form; the slack is the rider fallbacks counted over
    * both windows (each fallback is one extra job on the same thread).
    */
  private def parity(name: String, df: => Seq[DataFrame],
      sql: => Seq[DataFrame]): Unit = {
    val fb0 = Loop.fallbacks.get()
    val d = jobs(s"${name}_df")(df)
    val q = jobs(s"${name}_sql")(sql)
    val fb = Loop.fallbacks.get() - fb0
    assert(math.abs(d - q) <= fb,
      s"SQL-driven $name ran $q jobs, its DataFrame form $d (rider fallbacks $fb)")
  }

  test("q01/q23/q88 SQL texts are plan-equal to the DataFrame forms") {
    ready
    SqlSurface.sql.foreach { case (name, text) =>
      val df = SparkEntry.queries(name)(spark, dir)
      val sq = spark.sql(text)
      pinPlanEqual(name, df, sq)
      assert(rows(df) == rows(sq), s"$name: SQL rows diverge")
    }
  }

  test("SQL-driven cc round is plan-equal to ops.star2Round; loops agree") {
    ready
    import graft.api.ops
    val und = Mining.sparseUnd(spark, dir)
    und.select(col("a").as("src"), col("b").as("dst"))
      .createOrReplaceTempView("cc_und")
    val dfInit = ops.ccCanon(
      und.select(col("a").as("src"), col("b").as("dst")), "src", "dst")
      .distinct()
    val sqInit = spark.sql(SqlSurface.ccCanonSql)
    pinPlanEqual("cc_canon", dfInit, sqInit)
    val e = sqInit.localCheckpoint(true)
    e.createOrReplaceTempView("cc_edges")
    pinPlanEqual("cc_round",
      ops.star2Round(e), spark.sql(SqlSurface.ccRoundSql))
    Ck.release(e)
    Seq("cc_und", "cc_edges").foreach(spark.catalog.dropTempView)

    val (dfLabels, dfRounds) = Mining.ccLoop(spark, dir)
    val (sqLabels, sqRounds) = SqlSurface.ccLoopSql(spark, dir)
    assert(dfRounds == sqRounds,
      s"round counts diverge: df=$dfRounds sql=$sqRounds")
    assert(rows(dfLabels.orderBy("node")) == rows(sqLabels.orderBy("node")))
    Ck.release(dfLabels); Ck.release(sqLabels)
  }

  test("SQL-driven pr round is plan-equal to Curation.prRound; loops agree") {
    ready
    val (_, edges, nodesRaw) = Curation.prGraphEdges(spark, dir)
    val edeg = Curation.withOutdeg(edges, Loop.statePartitions(edges))
    val (pr0, _) = Loop.checkpoint(Curation.prInit(
      nodesRaw.select(col("id"), lit(1000000000L).as("pr")),
      edeg.rdd.getNumPartitions), count(lit(1)), keepLayout = true)
    pinPlanEqual("pr_round",
      Curation.prRound(edeg, pr0), SqlSurface.prRoundBody(spark)(edeg, pr0))
    Ck.release(pr0)
    Seq("pr_edeg", "pr_ranks", "pr_ranks_b").foreach(spark.catalog.dropTempView)

    val (dfPr, dfCurve) = Curation.prLoop(spark, dir)
    val (sqPr, sqCurve, sqRounds) = SqlSurface.prLoopSql(spark, dir)
    assert(dfCurve == sqCurve,
      s"movement curves diverge: df=$dfCurve sql=$sqCurve")
    assert(sqRounds == sqCurve.length)
    assert(rows(dfPr.orderBy("id")) == rows(sqPr.orderBy("id")))
  }

  test("SQL-driven k-core round is plan-equal to Mining.kcoreInduced; loops agree") {
    ready
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the round body: same neighbour list, same survivor frame shape
    // the loop feeds it (a checkpointed node set)
    val nbrs = Mining.kcoreNbrs(Mining.sparseUnd(spark, dir))
      .persist(MEMORY_AND_DISK)
    val alive = nbrs.select(col("node")).distinct().localCheckpoint(true)
    pinPlanEqual("kcore_induced",
      Mining.kcoreInduced(nbrs, alive), SqlSurface.kcInducedBody(spark)(nbrs, alive))
    nbrs.unpersist(blocking = false)
    Ck.release(alive)
    Seq("kc_nbrs", "kc_alive").foreach(spark.catalog.dropTempView)

    // loop agreement: same data-driven peel depth, same final census
    // (sf0.001's sparsified graph dissolves entirely — the empty-core
    // degenerate case must agree across surfaces too)
    val dfOut = SparkEntry.queries("q181_kcore")(spark, dir)
    val sqOut = SqlSurface.q181KcoreSql(spark, dir)
    assert(rows(dfOut) == rows(sqOut),
      s"k-core census diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
  }

  test("SQL-driven HITS half-steps are plan-equal to Curation's; outputs agree") {
    ready
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = Curation.hitsEdges(spark, dir).persist(MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct().persist(MEMORY_AND_DISK)
    val h0 = nodes.withColumn("score", lit(10000L)).localCheckpoint(true)
    // both half-steps: authorities from hubs, hubs from authorities
    Seq(("src", "dst"), ("dst", "src")).foreach { case (key, out) =>
      pinPlanEqual(s"hits_raw_$out",
        Curation.hitsRawFrame(nodes, edges, h0, key, out),
        SqlSurface.hitsRawBody(spark)(nodes, edges, h0, key, out))
    }
    edges.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    Ck.release(h0)
    Seq("hits_edges", "hits_nodes", "hits_scores")
      .foreach(spark.catalog.dropTempView)

    val dfOut = SparkEntry.queries("q196_hits")(spark, dir)
    val sqOut = SqlSurface.q196HitsSql(spark, dir)
    assert(rows(dfOut) == rows(sqOut),
      s"HITS top-k diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
  }

  test("SQL-driven SCC round bodies are plan-equal to Mining's; output equals q199") {
    ready
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = Mining.dirEdges(spark, dir).persist(MEMORY_AND_DISK)
    edges.createOrReplaceTempView("scc_edges")
    val cur = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    cur.createOrReplaceTempView("scc_cur")
    pinPlanEqual("scc_trim_keep",
      Mining.sccTrimKeep(edges, cur), spark.sql(SqlSurface.sccTrimKeepSql))
    pinPlanEqual("scc_color_init",
      cur.select(col("id"), Mining.sccOrd)
        .select(col("id"), col("ord"), col("ord").as("clr")),
      spark.sql(SqlSurface.sccColorInitSql))
    val ce = spark.sql(SqlSurface.sccCurESql).localCheckpoint(true)
    ce.createOrReplaceTempView("scc_ce")
    val color = spark.sql(SqlSurface.sccColorInitSql).localCheckpoint(true)
    color.createOrReplaceTempView("scc_color")
    pinPlanEqual("scc_color_round",
      Mining.sccColorRound(ce, color), spark.sql(SqlSurface.sccColorRoundSql))
    val members = spark.sql("SELECT id, clr FROM scc_color WHERE clr = ord")
      .localCheckpoint(true)
    members.createOrReplaceTempView("scc_members")
    pinPlanEqual("scc_collect_grow",
      Mining.sccCollectGrow(ce, color, members),
      spark.sql(SqlSurface.sccCollectGrowSql))
    val sameE = spark.sql(SqlSurface.sccSameESql).localCheckpoint(true)
    sameE.createOrReplaceTempView("scc_same")
    val back = spark.sql("SELECT id, ord, ord AS b FROM scc_color")
      .localCheckpoint(true)
    back.createOrReplaceTempView("scc_back")
    pinPlanEqual("scc_back_round",
      Mining.sccBackRound(sameE, back), spark.sql(SqlSurface.sccBackRoundSql))
    edges.unpersist(blocking = false)
    Seq(cur, ce, color, members, sameE, back).foreach(Ck.release)
    Seq("scc_edges", "scc_cur", "scc_ce", "scc_color", "scc_members",
      "scc_same", "scc_back").foreach(spark.catalog.dropTempView)

    // loop agreement: the SQL-driven loop's labels census equals q199
    val dfOut = SparkEntry.queries("q199_scc")(spark, dir)
    val sqOut = SqlSurface.q199SccSql(spark, dir)
    assert(rows(dfOut) == rows(sqOut),
      s"SCC census diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
  }

  test("SQL-driven SCC runs the same jobs as the DataFrame q199") {
    ready
    parity("scc", Seq(SparkEntry.queries("q199_scc")(spark, dir)),
      Seq(SqlSurface.q199SccSql(spark, dir)))
  }

  test("SQL-driven k-core and PageRank run the same jobs as the DataFrame loops") {
    ready
    parity("k-core", Seq(Mining.kcoreLoop(spark, dir)._1),
      Seq(SqlSurface.kcoreLoopSql(spark, dir)._1))
    parity("pagerank", Seq(Curation.prLoop(spark, dir)._1),
      Seq(SqlSurface.prLoopSql(spark, dir)._1))
  }

  test("SQL-driven HITS and warm cc run the same jobs as their DataFrame drivers") {
    ready
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.api.ops
    // the loops themselves, not q196, whose top-k step differs
    // across the surfaces
    // HITS on q196's edges, persisted as hitsLoopSql persists them
    parity("hits", {
      val e = Curation.hitsEdges(spark, dir).persist(MEMORY_AND_DISK)
      Tables.touch(e)
      val (a, h) = Curation.hitsScores(e)
      Seq(a, h)
    }, {
      val (a, h) = SqlSurface.hitsLoopSql(spark, dir)
      Seq(a, h)
    })
    // the warm start on q217's inputs: cold labels, the changelog's
    // new edge set and its deletes
    val und0 = Mining.sparseUnd(spark, dir).persist(MEMORY_AND_DISK)
    Tables.touch(und0)
    val (lab0, _) = ops.connectedComponents(und0, "a", "b")
    val dels = und0.filter((col("a") * 7L + col("b") * 11L) % 61L === 0L)
    val und1 = und0.join(dels, Seq("a", "b"), "left_anti")
      .unionByName(Mining.undFamily(spark, dir, 37L, 512L))
      .distinct().persist(MEMORY_AND_DISK)
    Tables.touch(und1)
    parity("cc_warm",
      Seq(ops.incrementalConnectedComponents(lab0, und1, dels, "a", "b")._1),
      Seq(SqlSurface.ccWarmLoopSqlOn(spark, lab0, und1, dels, "a", "b")._1))
    Ck.release(lab0)
    und0.unpersist(blocking = false)
    und1.unpersist(blocking = false)
  }

  test("SQL census queries q161 and q217 run the same jobs as the DataFrame queries") {
    ready
    parity("q161", Seq(SparkEntry.queries("q161_connected_components")(spark, dir)),
      Seq(SqlSurface.q161ComponentsSql(spark, dir)))
    parity("q217", Seq(SparkEntry.queries("q217_incremental_cc")(spark, dir)),
      Seq(SqlSurface.q217IncrementalCcSql(spark, dir)))
  }

  test("SQL-driven warm cc bodies are plan-equal to ops'; q217 agrees") {
    ready
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.api.ops
    // the warm bodies: the same canon / prev-labels / affected
    // frames on both sides, q217's deterministic changelog as the
    // delta
    val und = Mining.sparseUnd(spark, dir)
    und.select(col("a").as("src"), col("b").as("dst"))
      .createOrReplaceTempView("cc_und")
    val (lab0, _) = Mining.ccLoop(spark, dir)
    val prev = lab0.select(col("node").as("id"), col("lbl").as("component"))
    prev.createOrReplaceTempView("cc_prev")
    val dels = und.filter((col("a") * 7L + col("b") * 11L) % 61L === 0L)
      .select(col("a").as("src"), col("b").as("dst"))
    dels.createOrReplaceTempView("cc_dels")
    pinPlanEqual("cc_affected",
      ops.ccAffected(prev, dels, "src", "dst"),
      spark.sql(SqlSurface.ccAffectedSql))
    pinPlanEqual("cc_canon_raw",
      ops.ccCanon(und.select(col("a").as("src"), col("b").as("dst")), "src", "dst"),
      spark.sql(SqlSurface.ccCanonRawSql))
    val aff = spark.sql(SqlSurface.ccAffectedSql).localCheckpoint(true)
    aff.createOrReplaceTempView("cc_aff")
    val canon = spark.sql(SqlSurface.ccCanonSql).persist(MEMORY_AND_DISK)
    canon.createOrReplaceTempView("cc_canon")
    pinPlanEqual("cc_label_edges",
      ops.ccLabelEdges(canon, prev, aff),
      spark.sql(SqlSurface.ccLabelEdgesSql))
    canon.unpersist(blocking = false)
    Ck.release(lab0); Ck.release(aff)
    Seq("cc_und", "cc_prev", "cc_dels", "cc_aff", "cc_canon")
      .foreach(spark.catalog.dropTempView)

    // full-surface agreement: the SQL-driven cold+warm composition
    // reproduces q217's output (census + BOTH movement curves) row
    // for row — an early/late stop or a mis-seeded warm init in the
    // SQL loop diverges here
    val dfOut = SparkEntry.queries("q217_incremental_cc")(spark, dir)
    val sqOut = SqlSurface.q217IncrementalCcSql(spark, dir)
    assert(rows(dfOut) == rows(sqOut),
      s"warm cc output diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
    Ck.release(sqOut)
  }

  test("SQL-driven warm dedup day equals q218; delta-pair text equals the batch op") {
    ready
    // sf0.01: the warm dedup day needs real dup clusters on both
    // sides of the split (IncrementalDedupSpec's choice) — sf0.001's
    // pair graph is too sparse to make the equality non-vacuous
    val ddir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, ddir)
    val base = docs.filter(col("doc_id") % 8 =!= 0)
    val delta = docs.filter(col("doc_id") % 8 === 0)
    base.createOrReplaceTempView("nd_base")
    delta.createOrReplaceTempView("nd_delta")
    docs.createOrReplaceTempView("nd_union")
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sqPairs = pairSet(spark.sql(
      SqlSurface.ndDeltaPairsSql("nd_base", "nd_delta", "nd_union")))
    val dfPairs = pairSet(graft.api.ops.incrementalNearDupPairs(
      base, delta, "doc_id", "text", 0.5))
    assert(sqPairs == dfPairs,
      s"missing=${dfPairs -- sqPairs} extra=${sqPairs -- dfPairs}")
    assert(sqPairs.nonEmpty, "no delta pairs — vacuous")
    Seq("nd_base", "nd_delta", "nd_union")
      .foreach(spark.catalog.dropTempView)
    // the full SQL-driven day: census + kept accounting + BOTH
    // movement curves row-equal to the DataFrame q218
    val dfOut = SparkEntry.queries("q218_warm_dedup")(spark, ddir)
    val sqOut = SqlSurface.q218WarmDedupSql(spark, ddir)
    assert(rows(dfOut) == rows(sqOut),
      s"warm dedup day diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
    assert(rows(sqOut).exists(_.contains("comp")), "no clusters — vacuous")
    Ck.release(sqOut)
  }

  test("SQL-driven takedown day equals q219") {
    ready
    // the full-CDC half: disturbed components re-derive + re-seed
    // (deleted docs enter the SQL warm loop as self-edge deletions),
    // undisturbed carry as star edges, inserts join the surviving
    // corpus — disturbed census, component census, kept accounting,
    // and BOTH movement curves must match the DataFrame q219
    val ddir = "/root/testdata/sf0.01"
    val dfOut = SparkEntry.queries("q219_takedown_dedup")(spark, ddir)
    val sqOut = SqlSurface.q219TakedownDedupSql(spark, ddir)
    assert(rows(dfOut) == rows(sqOut),
      s"takedown day diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
    // non-vacuity: takedowns genuinely disturbed clusters
    val aff = sqOut.filter(col("part") === "aff").head()
    assert(aff.getLong(2) > 0L, "no disturbed component — vacuous")
    Ck.release(sqOut)
  }

  test("SQL-driven SemDeDup: pair stage plan-equal; census equals q222") {
    ready
    import graft.api.ops
    val ddir = "/root/testdata/sf0.01"
    // pair-stage plan equality over the same registered assigned view
    val av = ops.semDedupAssigned(
      Tables.embeddings(spark, ddir),
      graft.queries.Vectors.labelCentroids(spark, ddir),
      "vec_id", "embedding").localCheckpoint(true)
    av.createOrReplaceTempView("sem_av")
    pinPlanEqual("semdedup_pairs",
      ops.semDedupPairs(av, 0.35), spark.sql(SqlSurface.semDedupPairsSql))
    spark.catalog.dropTempView("sem_av")
    Ck.release(av)
    // full census agreement through the SQL cc fixpoint
    val dfOut = SparkEntry.queries("q222_semdedup")(spark, ddir)
    val sqOut = SqlSurface.q222SemDedupSql(spark, ddir)
    assert(rows(dfOut) == rows(sqOut),
      s"semdedup census diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
    // non-vacuity: the threshold found real duplicates
    assert(sqOut.agg(sum(col("n_removed"))).head().getLong(0) > 0L,
      "no semantic duplicates at tau=0.35 — vacuous")
    Ck.release(dfOut); Ck.release(sqOut)
  }

  test("SQL-driven margin mining equals q224 — the vector-mining family's SQL entry") {
    ready
    // sf0.01 like the ApiSpec marginMine test: sf0.001's ~1-vector
    // buckets produce singleton candidates whose margin is exactly
    // 1.0, all refused — the interesting behavior needs population.
    // The text runs against the registered `embeddings` view, so
    // re-point the views at sf0.01 for the comparison and restore.
    val ddir = "/root/testdata/sf0.01"
    SqlSurface.registerViews(spark, ddir)
    try {
      val dfOut = SparkEntry.queries("q224_margin_mining")(spark, ddir)
      val sqOut = spark.sql(SqlSurface.q224MarginSql)
      assert(rows(dfOut) == rows(sqOut),
        s"margin mining diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
      // non-vacuity: real mutual pairs were mined (132 at sf0.01)
      assert(sqOut.count() > 0L, "no mined pairs — vacuous")
    } finally SqlSurface.registerViews(spark, dir)
  }

  test("SQL-driven composed day equals q221") {
    ready
    // the one-call day on the SQL surface: the q219 dedup machinery
    // plus tomorrow's band census, exact decontamination, and the
    // frozen-index delta IVF report — every stage a SQL text,
    // row-equal to the DataFrame q221 (census, kept, bands, decon,
    // ivf, and BOTH movement curves)
    val ddir = "/root/testdata/sf0.01"
    val dfOut = SparkEntry.queries("q221_corpus_day")(spark, ddir)
    val sqOut = SqlSurface.corpusDaySql(spark, ddir)
    assert(rows(dfOut) == rows(sqOut),
      s"composed day diverges:\ndf=${rows(dfOut)}\nsql=${rows(sqOut)}")
    // non-vacuity: every composed leg produced a real account
    def part(p: String) = sqOut.filter(col("part") === p)
    assert(part("bands").head().getLong(2) > 0L, "empty band table")
    assert(part("decon").head().getLong(3) > 0L,
      "eval set never overlaps — vacuous decontamination")
    assert(part("ivf").count() > 0L, "no delta IVF assignment")
    Ck.release(dfOut); Ck.release(sqOut)
  }
}
