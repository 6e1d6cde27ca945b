package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Corpus-curation operators — the decision layer of a training-data
  * pipeline that sits after cleaning/dedup (Dedup.scala,
  * TextAnalysis.scala) and before packing (q62): source mixing,
  * snapshot maintenance, batch-shape accounting, graph-based source
  * ranking, and profile reporting.
  *
  * Scale notes: every query is either a single partially-aggregated
  * pass, or a corpus pass joined against a broadcastable per-source /
  * per-node summary; the one iterative operator (q79) broadcasts the
  * rank vector and shuffles only the edge list. All sampling and rank
  * arithmetic is exact int64 (md5 thresholds, `ldiv` floor division)
  * so both engines hash identically — no float RNG, no
  * engine-specific sketches.
  */
object Curation {

  // ---------------------------------------------------------------
  // q76: temperature-flattened source MIXTURE sampling — the data-
  // mixing step of LLM pretraining (sample source i with probability
  // proportional to w_i^alpha, alpha=1/2). Deterministic and exactly
  // portable: doc hash h is a 20-bit md5 prefix, and the keep rule
  //   (h / 2^20)^2 < w_i / w_max
  // is evaluated as pure int64  h*h*10^6 < 2^40 * w_norm  — the
  // square replaces sqrt(w), so no float appears anywhere. Weights
  // are one partial-aggregated pass; the corpus pass joins the
  // 20-row rate table by broadcast (never shuffles the corpus — at
  // 100 TB the weights table is per-source, i.e. tiny, by
  // construction).
  // ---------------------------------------------------------------
  def q76MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val w = documents(s, dir).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("w"))
    val rates = w.crossJoin(broadcast(w.agg(max(col("w")).as("wmax"))))
      .select(col("source"),
        Relational.ldiv(lit(1000000L) * col("w"), col("wmax")).as("w_norm"))
    // 20-bit hash of the doc id: h^2 stays < 2^40, so h*h*10^6 and
    // 2^40*w_norm both stay < 2^63 (DuckDB errors on int64 overflow)
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 5), 16, 10)
      .cast("long")
    documents(s, dir)
      .join(broadcast(rates), Seq("source"))
      .withColumn("h", h)
      .withColumn("kept",
        (col("h") * col("h") * lit(1000000L) <
          lit(1099511627776L) * col("w_norm")).cast("long"))
      .groupBy(col("source"), col("w_norm"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      .withColumn("kept_ratio", Relational.ratio4(col("n_kept"), col("n_docs")))
      .orderBy("source")
  }

  val q76Sql: String =
    """WITH w AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
      |  FROM documents GROUP BY source
      |), r AS (
      |  SELECT source, (1000000 * w) // (SELECT MAX(w) FROM w) AS w_norm FROM w
      |), d AS (
      |  SELECT d.source, r.w_norm,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) AS BIGINT) AS h
      |  FROM documents d JOIN r USING (source)
      |)
      |SELECT source, w_norm, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN h*h*1000000 < 1099511627776*w_norm
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  ((20000*CAST(SUM(CASE WHEN h*h*1000000 < 1099511627776*w_norm
      |                        THEN 1 ELSE 0 END) AS BIGINT) + COUNT(*))
      |    // (2*COUNT(*))) / 10000.0 AS kept_ratio
      |FROM d GROUP BY source, w_norm ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q77: CDC APPLY — merge a changelog into a snapshot (the batch
  // analog of a streaming upsert sink, and the maintenance step of
  // any incrementally-updated corpus). Events before the cutoff form
  // the snapshot (last write wins, 'error' = tombstone); events
  // after it are the changelog. Apply = FULL OUTER join:
  // changelog overrides, tombstones delete, untouched keys carry
  // over — a deleted key is resurrected by a later upsert. Both
  // sides shuffle once on the key; at 100 TB the snapshot side is
  // usually bucketed by key so only the (smaller) changelog moves.
  // ---------------------------------------------------------------
  private val Cutoff = "2024-01-16 00:00:00"

  def q77CdcApply(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    }
    val snap = latest(ev.filter(col("ts") < lit(Cutoff).cast("timestamp")))
      .filter(col("event_type") =!= "error") // tombstone already applied
      .select(col("user_id"), col("event_type").as("s_type"),
        col("value").as("s_value"))
    val chg = latest(ev.filter(col("ts") >= lit(Cutoff).cast("timestamp")))
      .select(col("user_id"), col("event_type").as("c_type"),
        col("value").as("c_value"))
    snap.join(chg, Seq("user_id"), "full_outer")
      .filter(col("c_type").isNull || col("c_type") =!= "error")
      .select(col("user_id"),
        when(col("c_type").isNotNull, lit("changelog"))
          .otherwise(lit("snapshot")).as("src"),
        coalesce(col("c_type"), col("s_type")).as("last_type"),
        coalesce(col("c_value"), col("s_value")).as("last_value"))
      .orderBy("user_id")
  }

  val q77Sql: String =
    s"""WITH snap AS (
       |  SELECT user_id, event_type AS s_type, value AS s_value
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events WHERE ts < TIMESTAMP '$Cutoff')
       |  WHERE rn = 1 AND event_type <> 'error'
       |), chg AS (
       |  SELECT user_id, event_type AS c_type, value AS c_value
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events WHERE ts >= TIMESTAMP '$Cutoff')
       |  WHERE rn = 1
       |)
       |SELECT COALESCE(s.user_id, c.user_id) AS user_id,
       |  CASE WHEN c.user_id IS NOT NULL THEN 'changelog'
       |       ELSE 'snapshot' END AS src,
       |  COALESCE(c_type, s_type) AS last_type,
       |  COALESCE(c_value, s_value) AS last_value
       |FROM snap s FULL OUTER JOIN chg c ON s.user_id = c.user_id
       |WHERE c_type IS NULL OR c_type <> 'error'
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q78: LENGTH-BUCKETED batch accounting — group documents into
  // power-of-two token-length buckets (the standard bucketing that
  // minimizes padding in fixed-shape training batches) and report
  // the padding waste each bucket would incur. One pass, one
  // partial-aggregated shuffle on a 5-value key.
  // ---------------------------------------------------------------
  def q78LengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(Hashing.words(col("text"))).cast("long")
    val cap = when(col("n_tok") <= 64, 64L).when(col("n_tok") <= 128, 128L)
      .when(col("n_tok") <= 256, 256L).when(col("n_tok") <= 512, 512L)
      .otherwise(1024L)
    documents(s, dir).select(nTok.as("n_tok"))
      .withColumn("bucket_cap", cap)
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("pad_tokens",
        col("bucket_cap") * col("n_docs") - col("n_tokens"))
      .withColumn("waste_ratio",
        Relational.ratio4(col("pad_tokens"), col("bucket_cap") * col("n_docs")))
      .orderBy("bucket_cap")
  }

  val q78Sql: String =
    """WITH t AS (
      |  SELECT len(string_split(text, ' ')) AS n_tok FROM documents
      |), b AS (
      |  SELECT n_tok,
      |    CAST(CASE WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
      |              WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
      |              ELSE 1024 END AS BIGINT) AS bucket_cap
      |  FROM t
      |), g AS (
      |  SELECT bucket_cap, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |  FROM b GROUP BY bucket_cap
      |)
      |SELECT bucket_cap, n_docs, n_tokens,
      |  bucket_cap * n_docs - n_tokens AS pad_tokens,
      |  ((20000*(bucket_cap * n_docs - n_tokens) + bucket_cap * n_docs)
      |    // (2 * bucket_cap * n_docs)) / 10000.0 AS waste_ratio
      |FROM g ORDER BY bucket_cap""".stripMargin

  // ---------------------------------------------------------------
  // q223: SEQUENCE-PACKING census — the sample-packing step of an
  // LLM training pipeline (q78 accounts for PADDING waste under
  // length bucketing; this is the complementary discipline —
  // documents greedily concatenated into fixed-budget training
  // sequences, where packing efficiency decides how much of every
  // paid context window carries real tokens). Runs
  // [[graft.api.ops.packSequences]] — the library's one documented
  // mapPartitions last-resort (strict greedy first-fit inside
  // deterministic md5 shards: genuine sequential logic a prefix-sum
  // window cannot express, because the accumulator RESETS whenever
  // the next doc would overflow) — and reports the per-shard census:
  // docs, packs, capped token mass, heaviest pack, fill ratio. The
  // DuckDB oracle REPLAYS the greedy recurrence exactly with a
  // recursive CTE (one row per shard per iteration), so the gate
  // covers the imperative packing logic itself, not just the census
  // arithmetic.
  //
  // Scale shape: tokenize + shard hash ride one scan; packSequences
  // is a repartition on the shard key plus one sorted linear pass
  // per partition (no global sort); the census is two partial
  // aggregations. Shards are the packing parallelism unit — a
  // production run sizes them to the corpus (the qNN pins 8 at
  // testdata scale so each shard packs enough docs to need several
  // sequences; budget 256 tokens against the corpus's ~54-token
  // mean for the same reason).
  // ---------------------------------------------------------------
  private val PackBudget = 256L
  private val PackShards = 8

  def q223SequencePack(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"),
      size(Hashing.words(col("text"))).cast("long").as("n_tok"))
    val packed = graft.api.ops.packSequences(
      docs, "doc_id", "n_tok", budget = PackBudget, shards = PackShards)
    packed
      .withColumn("shard", shiftright(col("pack_id"), 40))
      .withColumn("n_cap", least(col("n_tok"), lit(PackBudget)))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("nd"), sum(col("n_cap")).as("pt"))
      .groupBy(col("shard"))
      .agg(sum(col("nd")).as("n_docs"), count(lit(1)).as("n_packs"),
        sum(col("pt")).as("n_tokens"), max(col("pt")).as("max_pack_toks"))
      .withColumn("fill_e4",
        Relational.ratio4(col("n_tokens"), col("n_packs") * lit(PackBudget)))
      .orderBy("shard")
  }

  val q223Sql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |    least(CAST(len(string_split(text, ' ')) AS BIGINT), $PackBudget) AS n,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
       |      % $PackShards AS shard
       |  FROM documents
       |), r AS (
       |  SELECT shard, doc_id, n,
       |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rk
       |  FROM d
       |), w AS (
       |  SELECT shard, rk, n, n AS acc, CAST(0 AS BIGINT) AS pack
       |  FROM r WHERE rk = 1
       |  UNION ALL
       |  SELECT r.shard, r.rk, r.n,
       |    CASE WHEN w.acc + r.n > $PackBudget THEN r.n
       |         ELSE w.acc + r.n END AS acc,
       |    CASE WHEN w.acc + r.n > $PackBudget THEN w.pack + 1
       |         ELSE w.pack END AS pack
       |  FROM w JOIN r ON r.shard = w.shard AND r.rk = w.rk + 1
       |), packs AS (
       |  SELECT shard, pack, COUNT(*) AS nd, CAST(SUM(n) AS BIGINT) AS pt
       |  FROM w GROUP BY shard, pack
       |)
       |SELECT shard, CAST(SUM(nd) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_packs,
       |  CAST(SUM(pt) AS BIGINT) AS n_tokens,
       |  CAST(MAX(pt) AS BIGINT) AS max_pack_toks,
       |  ((20000 * CAST(SUM(pt) AS BIGINT) + COUNT(*) * $PackBudget)
       |    // (2 * COUNT(*) * $PackBudget)) / 10000.0 AS fill_e4
       |FROM packs GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------
  // q79: integer PAGERANK, 3 unrolled iterations — graph-based
  // ranking (the web-graph quality prior used to weight pretraining
  // sources). The interaction graph is derived deterministically
  // from events: user u links to (u*31 + k) mod N for each distinct
  // props-key k it emitted. All rank arithmetic is int64 floor
  // division with rank mass scaled to 10^9, so both engines agree
  // bit-for-bit. The round divides with SQL `div` (exact int64), not
  // `ldiv`, whose double division is exact only below 2^53: 85 times
  // a node's inbound mass passes that bound once a warm-start rank
  // reaches ~1e14, while `div` stays exact to the int64 range.
  //
  // Scale shape per iteration: rank vector (|nodes| rows) broadcasts
  // into the edge list; contributions partial-aggregate on dst. The
  // edge list never re-shuffles — at 1000 executors it would be
  // hash-partitioned by src once and reused (here it is persisted
  // once). Rank vectors too big to broadcast degrade to a shuffle
  // join on src — same plan, one more exchange.
  // ---------------------------------------------------------------
  def q79PageRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // r16: the fixed 3-round unroll now runs on the SAME co-partitioned
    // machinery as the convergence loops (withOutdeg dst-layout +
    // id-partitioned rank checkpoints) — identical integer arithmetic
    // (prRound), so the top-20 output is bit-identical; each round is
    // one zero-exchange checkpoint job instead of a persist+touch pair
    // with a per-round contribution exchange.
    val (_, edges, nodesRaw) = prGraphEdges(s, dir)
    val edeg = withOutdeg(edges, graft.Loop.statePartitions(edges))
      .persist(MEMORY_AND_DISK)
    touch(edeg)
    var (pr, _) = graft.Loop.checkpoint(
      prInit(nodesRaw.select(col("id"), lit(1000000000L).as("pr")),
        edeg.rdd.getNumPartitions), count(lit(1)), keepLayout = true)
    for (_ <- 1 to 3) {
      val (next, _) = graft.Loop.checkpoint(
        prRound(edeg, pr).select(col("id"), col("pr")), count(lit(1)),
        keepLayout = true)
      graft.Ck.release(pr) // superseded round, fully consumed
      pr = next
    }
    // read outdeg back from the persisted edge frame (not a separate
    // deg derivation, whose lineage would replan the edge chain again)
    val degOut = edeg.select(col("src"), col("outdeg")).distinct()
    val out = pr.join(degOut, col("id") === col("src"), "left")
      .select(col("id").as("user_id"), col("pr"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .orderBy(col("pr").desc, col("user_id"))
      .limit(20)
    // 20 rows — checkpoint the result so the edge cache and the final
    // rank checkpoint can be released before returning
    val ck = out.localCheckpoint(true)
    edeg.unpersist(blocking = false)
    graft.Ck.release(pr)
    ck
  }

  // ---------------------------------------------------------------
  // q175: PAGERANK to a data-driven CONVERGENCE stop — q79's three
  // unrolled rounds lifted to the loop a 100-TB link-graph job
  // actually runs: iterate until the total integer rank movement
  // sum(|pr_r - pr_{r-1}|) falls under eps = n_nodes * EpsPerNode,
  // with a bounded-round guard that fails loudly. The stop round is
  // ORACLE-GATED, not trusted: the DuckDB twin materializes the same
  // integer iteration for the full guard depth, computes the same
  // movement curve, picks MIN(round | mv <= eps), and compares both
  // the curve rows up to the stop and the top-20 ranks AT the stop
  // round — if Spark stopped a round early or late, the hash
  // mismatches. Per round: one broadcast of the node-sized rank
  // vector (bucketed join once nodes outgrow a broadcast), one
  // partially-aggregated contribution exchange, and one
  // localCheckpoint whose single materialization serves the movement
  // scalar AND the next round (q161's hygiene; reliable checkpoint()
  // on a cluster). All arithmetic is the exact-int64 q79 update, so
  // the two engines walk bit-identical trajectories.
  // ---------------------------------------------------------------
  private[graft] val MaxPrRounds = 20
  // stop: avg per-node movement < 1e-6 of the base rank. The graph
  // mixes fast (movement decays ~10x/round), so a loose threshold
  // would stop after 1-2 rounds and never exercise the loop; this one
  // stops at ~6-8 data-driven rounds at sf0.01/sf0.1, well under the
  // guard.
  private[graft] val EpsPerNode = 1000L

  /** q175's loop; `round` is the round body (SqlSurface.prLoopSql
    * passes its SQL twin of [[prRound]]).
    */
  private[graft] def prLoop(s: SparkSession, dir: String,
      probe: (Int, DataFrame) => Unit = (_, _) => (),
      round: (DataFrame, DataFrame) => DataFrame = prRound(_, _))
    : (DataFrame, Seq[(Long, Long)]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (_, edges, nodesRaw) = prGraphEdges(s, dir)
    val nodes = nodesRaw.persist(MEMORY_AND_DISK)
    // the persist is released on the guard path too (finally)
    try {
      val eps = nodes.count() * EpsPerNode // eager persist + eps
      pagerankOn("pr", edges, nodes.select(col("id"), lit(1000000000L).as("pr")),
        eps, MaxPrRounds, probe, round)
    } finally nodes.unpersist(blocking = false)
  }

  /** The base link graph q79/q175/q178 iterate over: the source
    * event frame, the derived edge set, and the node set (kept
    * stable across the q178 changelog — only EDGES churn).
    */
  private[graft] def prGraphEdges(s: SparkSession, dir: String)
    : (DataFrame, DataFrame, DataFrame) = {
    val ev = Mining.graphEv(s, dir)
    val n = ev.agg((max(col("user_id")) + 1L).as("n"))
    val edges = ev.crossJoin(broadcast(n))
      .select(col("user_id").as("src"),
        ((col("user_id") * 31L + col("k")) % col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    (ev, edges, ev.select(col("user_id").as("id")).distinct())
  }

  /** (src, dst, outdeg) edge frame, hash-partitioned by `dst` into
    * `parts` partitions BEFORE the caller's persist (r16): the
    * PageRank round's contribution aggregation groups by `dst`, so
    * laying the cached edges out on the aggregation key once removes
    * the per-round exchange — the sum runs complete-mode on
    * co-partitioned input every round. At 100 TB that is one
    * edge-partial shuffle saved per round; the one-time repartition
    * replaces (not adds to) the cache's layout cost. `parts` comes
    * from Loop.statePartitions on the edge frame (scale-adaptive,
    * shared with the rank side so the rounds stay co-partitioned);
    * the rank-side twin is prIterate's `id`-partitioned init.
    */
  private[graft] def withOutdeg(edges: DataFrame, parts: Int): DataFrame =
    // outdeg via a window, not a groupBy+self-join (r16): the edge
    // derivation (scan + parse + distinct) is an unpersisted subtree
    // that the old self-join shape executed TWICE inside the cache
    // build; one count-over-src window derives it once for the same
    // values — one exchange on src + the dst layout exchange
    edges.withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(parts, col("dst"))

  /** One integer-PageRank round over the (src, dst, outdeg) edge
    * frame and a (id, pr) rank vector: broadcast-rank contribution
    * exchange + node-sized left join. `tp` is the teleport mass per
    * node, a column over `id`: the uniform 0.15e9 by default, a
    * seed-conditional one for personalized PageRank (q186). Both
    * divisions are int64 `div`, exact over the whole int64 range.
    * SqlSurfaceSpec pins the SQL round body (SqlSurface.prRoundSql)
    * plan-equal to this production code. Returns the (id, pr, mv)
    * frame (caller checkpoints it).
    */
  private[graft] def prRound(edeg: DataFrame, pr: DataFrame,
      tp: Column = lit(150000000L)): DataFrame = {
    // size-gated rank broadcast (r17, ADVICE): the checkpointed rank
    // vector carries measured stats, so under the session threshold
    // this is the same forced broadcast as before (local plan
    // bit-identical); past it the join degrades to the documented
    // shuffle join on src instead of an impossible node-sized ship
    val contrib = edeg
      .join(graft.Loop.broadcastIfFits(pr), col("src") === col("id"))
      .select(col("dst"), expr("pr div outdeg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
    pr.select(col("id"), col("pr").as("old"))
      .join(contrib, col("id") === col("dst"), "left")
      .select(col("id"),
        (tp + expr("(85L * coalesce(sc, 0L)) div 100L")).as("pr"), col("old"))
      .select(col("id"), col("pr"),
        abs(col("pr") - col("old")).as("mv"))
  }

  /** The loop's rank-state init, hash-partitioned on `id`
    * once (r16): the round's node-sized left join keys pr.id =
    * contrib.dst; with edeg laid out on `dst` (withOutdeg) the
    * aggregated contributions arrive `dst`-partitioned and the
    * checkpoint CARRIES this partitioning (LogicalRDD preserves
    * outputPartitioning), so every round's join can run
    * co-partitioned — no per-round rank exchange and no node-sized
    * broadcast collect of the CONTRIBUTIONS at scale. (Qualified,
    * r17 ADVICE: the contribution side's collect is what this
    * eliminates; prRound still broadcast-hints the rank vector into
    * the contribution join itself, one node-sized broadcast per
    * round — see the size gate there for the at-scale degrade.)
    * Shared with graft.Explain's `loop:pr_round` so the committed
    * plan evidence prints the real steady-round shape.
    */
  private[graft] def prInit(init: DataFrame, parts: Int): DataFrame =
    init.select(col("id"), col("pr")).repartition(parts, col("id"))

  /** The one PageRank driver: every integer-PageRank loop (q175,
    * q178's cold and warm phases, q186, ops.pagerank and the SQL
    * surface's prLoopSql) runs here and passes only its init, stop
    * threshold and round body. `edges` is a distinct (src, dst)
    * frame without self-loops; this lays it out (withOutdeg),
    * persists it for the loop, and releases it on every path (the
    * guard throws). Returns the final checkpointed (id, pr) vector
    * and the (round, movement) curve; rounds are recorded under
    * `loop`.
    */
  private[graft] def pagerankOn(loop: String, edges: DataFrame,
      init: DataFrame, eps: Long, maxRounds: Int,
      probe: (Int, DataFrame) => Unit = (_, _) => (),
      round: (DataFrame, DataFrame) => DataFrame = prRound(_, _))
    : (DataFrame, Seq[(Long, Long)]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edeg = withOutdeg(edges, graft.Loop.statePartitions(edges))
      .persist(MEMORY_AND_DISK)
    touch(edeg)
    try prIterate(loop, edeg, init, eps, maxRounds, probe, round)
    finally edeg.unpersist(blocking = false)
  }

  private def prIterate(loop: String, edeg: DataFrame, init: DataFrame,
      eps: Long, maxRounds: Int, probe: (Int, DataFrame) => Unit,
      round: (DataFrame, DataFrame) => DataFrame)
    : (DataFrame, Seq[(Long, Long)]) =
    // the movement scalar Σ|Δpr| rides each round's checkpoint job,
    // and the checkpoints keep the id layout (keepLayout) so the
    // steady round plans exchange-free
    graft.Loop.fixpoint(loop, prInit(init, edeg.rdd.getNumPartitions),
      sum(col("mv")), maxRounds, keepLayout = true,
      done = (_, mv) => mv <= eps, probe = probe)(round(edeg, _))

  def q175PagerankConverge(s: SparkSession, dir: String): DataFrame = {
    val (pr, curve) = prLoop(s, dir)
    prReport(s, pr, "round" -> curve)
  }

  /** The q175/q178/q186 output: the top-20 (id, pr) ranks as part
    * "rank", then each movement curve under its own part name.
    */
  private def prReport(s: SparkSession, pr: DataFrame,
      curves: (String, Seq[(Long, Long)])*): DataFrame = {
    import s.implicits._
    val top = pr.orderBy(col("pr").desc, col("id")).limit(20)
      .withColumn("k", row_number().over(
        Window.orderBy(col("pr").desc, col("id"))).cast("long"))
      .select(lit("rank").as("part"), col("k"),
        col("id").as("v1"), col("pr").as("v2"))
    curves.map { case (part, curve) => curve.toDF("k", "v1")
        .select(lit(part).as("part"), col("k"), col("v1"), lit(0L).as("v2"))
      }.foldLeft(top)(_ unionByName _).orderBy("part", "k")
  }

  val q175Sql: String =
    s"""WITH $prGraphCtes, pr0 AS (
       |  SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes
       |),
       |${prUnrollSql("it", "pr0", MaxPrRounds, "", prIter(_))}
       |${prReportSql("", "round" -> "")}""".stripMargin

  // ----- the DuckDB PageRank oracles (q79, q175, q178, q186) -------

  /** prGraphEdges' graph in DuckDB SQL plus its out-degree table:
    * the `ev`, `edges`, `deg` and `nodes` CTEs every PageRank oracle
    * opens with.
    */
  private def prGraphCtes: String =
    """ev AS (
      |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      |), edges AS (
      |  SELECT DISTINCT user_id AS src,
      |    (user_id * 31 + k) % (SELECT MAX(user_id) + 1 FROM ev) AS dst
      |  FROM ev
      |  WHERE user_id <> (user_id * 31 + k) % (SELECT MAX(user_id) + 1 FROM ev)
      |), deg AS (
      |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
      |), nodes AS (
      |  SELECT DISTINCT user_id AS id FROM ev
      |)""".stripMargin

  /** The loop unrolled for the full guard depth: the materialized
    * rounds `<name>1..<name>rounds` from the `init` CTE (`iter` maps
    * the previous round's CTE to the next round's body), then
    * `curve<tag>` (round, movement), `stop<tag>` (the first round
    * under eps, the loop's stop rule) and `ranks<tag>` (every
    * round's ranks) — so a loop that stops early or late mismatches.
    */
  private def prUnrollSql(name: String, init: String, rounds: Int,
      tag: String, iter: String => String): String = {
    def t(r: Int) = if (r == 0) init else s"$name$r"
    val its = (1 to rounds).map(r =>
      s"${t(r)} AS MATERIALIZED (\n${iter(t(r - 1))})").mkString(",\n")
    val mvRows = (1 to rounds).map { r =>
      s"""SELECT $r AS round, (SELECT CAST(SUM(ABS(a.pr - b.pr)) AS BIGINT)
         |  FROM ${t(r)} a JOIN ${t(r - 1)} b ON a.id = b.id) AS mv""".stripMargin
    }.mkString("\nUNION ALL\n")
    val rankRows = (1 to rounds)
      .map(r => s"SELECT $r AS round, id, pr FROM ${t(r)}")
      .mkString("\nUNION ALL\n")
    s"""$its,
       |curve$tag AS (
       |$mvRows
       |), stop$tag AS (
       |  SELECT MIN(round) AS r FROM curve$tag
       |  WHERE mv <= (SELECT COUNT(*) FROM nodes) * $EpsPerNode
       |), ranks$tag AS (
       |$rankRows
       |)""".stripMargin
  }

  /** [[prReport]] in SQL: the top-20 of `ranks<tag>` at its stop
    * round, then each (part, curve tag) curve up to its stop.
    */
  private def prReportSql(tag: String, curves: (String, String)*): String = {
    val curveRows = curves.map { case (part, c) =>
      s"""  UNION ALL
         |  SELECT '$part' AS part, CAST(round AS BIGINT) AS k,
         |    mv AS v1, 0 AS v2
         |  FROM curve$c WHERE round <= (SELECT r FROM stop$c)""".stripMargin
    }.mkString("\n")
    s"""SELECT part, k, v1, v2 FROM (
       |  SELECT 'rank' AS part, CAST(rn AS BIGINT) AS k, id AS v1, pr AS v2
       |  FROM (SELECT id, pr, row_number() OVER (ORDER BY pr DESC, id) AS rn
       |        FROM ranks$tag WHERE round = (SELECT r FROM stop$tag))
       |  WHERE rn <= 20
       |$curveRows
       |) ORDER BY part, k""".stripMargin
  }

  /** One oracle round from the `prev` CTE over the `edges` / `deg`
    * CTEs; `tp` is the teleport mass per node.
    */
  private def prIter(prev: String, edges: String = "edges", deg: String = "deg",
      tp: String = "150000000"): String =
    s"""SELECT nd.id, $tp + (85 * COALESCE(s.sc, 0)) // 100 AS pr
       |  FROM nodes nd LEFT JOIN (
       |    SELECT e.dst, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS sc
       |    FROM $edges e JOIN $deg d ON d.src = e.src
       |    JOIN $prev p ON p.id = e.src GROUP BY e.dst) s ON s.dst = nd.id""".stripMargin

  // ---------------------------------------------------------------
  // q186: PERSONALIZED PageRank (PPR) — q175's global prior becomes
  // a PROXIMITY score: the 15% teleport mass lands only on a SEED
  // set (id % 97 == 0, q172's seed rule) instead of uniformly, so a
  // node ranks by how reachable it is FROM the seeds — the
  // recommendation / trust-propagation / related-content primitive
  // (per-user or per-topic PPR is how link structure personalizes).
  // Update per round, exact int64 like q175:
  //   pr(id) = tp(id) + (85 * inbound) DIV 100,
  //   tp(id) = (15e7 * n) DIV |S| on seeds, 0 elsewhere
  // with init = the full mass concentrated uniformly on the seeds.
  // The STOP ROUND is oracle-gated by the q175 discipline (full-
  // guard SQL unroll, MIN(round | mv <= eps), curve + top-20 ranks
  // at the stop compared). Round shape and hygiene are exactly
  // q175's — the same pagerankOn driver runs both; only prRound's
  // teleport column differs (seed-conditional instead of the
  // constant). Convergence is data-driven at ~8-9 rounds at the
  // gated SFs, under the shared MaxPrRounds guard.
  // ---------------------------------------------------------------
  private[graft] def pprLoop(s: SparkSession, dir: String,
      probe: (Int, DataFrame) => Unit = (_, _) => ())
    : (DataFrame, Seq[(Long, Long)]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (_, edges, nodesRaw) = prGraphEdges(s, dir)
    val nodes = nodesRaw.persist(MEMORY_AND_DISK)
    try {
      val nNodes = nodes.count()
      val nSeeds = nodes.filter(col("id") % 97L === 0L).count()
      require(nSeeds > 0, "PPR needs a non-empty seed set")
      // driver-side scalars (control-plane-sized); both divisions are
      // exact int64 on positive operands
      val tp = 150000000L * nNodes / nSeeds
      val ip = 1000000000L * nNodes / nSeeds
      def onSeeds(v: Long) =
        when(col("id") % 97L === 0L, lit(v)).otherwise(lit(0L))
      pagerankOn("ppr", edges, nodes.select(col("id"), onSeeds(ip).as("pr")),
        nNodes * EpsPerNode, MaxPrRounds, probe, prRound(_, _, onSeeds(tp)))
    } finally nodes.unpersist(blocking = false)
  }

  def q186PersonalizedPr(s: SparkSession, dir: String): DataFrame = {
    val (pr, curve) = pprLoop(s, dir)
    prReport(s, pr, "round" -> curve)
  }

  val q186Sql: String =
    s"""WITH $prGraphCtes, sc1 AS (
       |  SELECT
       |    CAST(150000000 * (SELECT COUNT(*) FROM nodes)
       |      // (SELECT COUNT(*) FROM nodes WHERE id % 97 = 0) AS BIGINT) AS tp,
       |    CAST(1000000000 * (SELECT COUNT(*) FROM nodes)
       |      // (SELECT COUNT(*) FROM nodes WHERE id % 97 = 0) AS BIGINT) AS ip
       |), ppr0 AS (
       |  SELECT id, CASE WHEN id % 97 = 0
       |    THEN (SELECT ip FROM sc1) ELSE CAST(0 AS BIGINT) END AS pr
       |  FROM nodes
       |),
       |${prUnrollSql("pit", "ppr0", MaxPrRounds, "", prIter(_,
           tp = "(CASE WHEN nd.id % 97 = 0 THEN (SELECT tp FROM sc1) ELSE 0 END)"))}
       |${prReportSql("", "round" -> "")}""".stripMargin

  // ---------------------------------------------------------------
  // q178: INCREMENTAL PageRank — the 100-TB reality behind q175: the
  // edge set does not arrive fresh each day, it CHANGES via a CDC
  // changelog (q77's op-row shape). Compose them: converge on the
  // base graph (phase 0 = q175's loop), apply a deterministic
  // delete/insert changelog (~1-2% edge churn, node set unchanged),
  // then WARM-START the loop from the previous fixpoint instead of
  // uniform ranks. Because the integer iteration contracts toward
  // the new fixpoint from wherever it starts, the warm start's
  // round-1 movement reflects only the delta's disturbance — it
  // converges in fewer rounds than a cold start on the same delta
  // graph (asserted in CcLoopSpec by running both). BOTH movement
  // curves and the final ranks are oracle-gated, so an early/late
  // stop in either phase hash-mismatches. Per-round scale shape is
  // exactly q175's (broadcast rank vector, partial-agg contribution
  // exchange, flat lineage); the changelog apply is one anti-join +
  // union-distinct on the edge list.
  // ---------------------------------------------------------------
  private val MaxWarmRounds = 12

  /** q178's phases, exposed so CcLoopSpec can run the cold loop on
    * the same delta graph and assert the warm start's round-count
    * advantage. Returns (final ranks, base curve, warm curve, the
    * delta edge frame, the node frame, eps).
    */
  private[graft] def incrementalPrRun(s: SparkSession, dir: String)
    : (DataFrame, Seq[(Long, Long)], Seq[(Long, Long)], DataFrame,
       DataFrame, Long) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (ev, edges0, nodesRaw) = prGraphEdges(s, dir)
    val nodes = nodesRaw.persist(MEMORY_AND_DISK)
    val nNodes = nodes.count()
    val eps = nNodes * EpsPerNode
    val uniform = nodes.select(col("id"), lit(1000000000L).as("pr"))
    // nodes outlives the base phase only on its success path
    val (pr0, curve0) =
      try pagerankOn("pr_base", edges0, uniform, eps, MaxPrRounds)
      catch { case t: Throwable => nodes.unpersist(blocking = false); throw t }
    // CDC changelog, q77's (op, key...) row shape: deterministic
    // deletes (a ~0.1% residue class of the base edges) +
    // deterministic inserts (a second derived edge family from a
    // sparse event slice) — both closed-form so the DuckDB twin
    // rebuilds them. Churn must stay SMALL: the iteration's movement
    // contracts geometrically, so warm rounds saved ~ log(cold
    // disturbance / delta disturbance) — a 1%+ churn at this graph
    // size disturbs nearly as much as uniform init and saves nothing
    // (measured: warm 6 = cold 6 at the 97/149 residues).
    val n = ev.agg((max(col("user_id")) + 1L).as("n"))
    val dels = edges0
      .filter((col("src") * 7L + col("dst") * 11L) % 997L === 0L)
      .select(lit("D").as("op"), col("src"), col("dst"))
    val ins = ev.crossJoin(broadcast(n))
      .filter((col("user_id") + col("k")) % 1499L === 0L)
      .select(col("user_id").as("src"),
        ((col("user_id") * 37L + col("k")) % col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .select(lit("I").as("op"), col("src"), col("dst"))
    // (the 997/1499 residues give ~0.1% deletes + ~0.07% inserts)
    val chg = dels.unionByName(ins)
    val edges1 = edges0
      .join(chg.filter(col("op") === "D").select(col("src"), col("dst")),
        Seq("src", "dst"), "left_anti")
      .unionByName(chg.filter(col("op") === "I").select(col("src"), col("dst")))
      .distinct()
    // the cold fixpoint is consumed once the driver checkpointed its
    // own copy of the warm init: release its blocks either way
    val (pr1, curve1) =
      try pagerankOn("pr_warm", edges1, pr0, eps, MaxWarmRounds)
      finally {
        nodes.unpersist(blocking = false)
        graft.Ck.release(pr0)
      }
    (pr1, curve0, curve1, edges1, nodes, eps)
  }

  /** Cold-start round count on an arbitrary edge frame — the
    * baseline CcLoopSpec compares q178's warm start against.
    */
  private[graft] def coldPrRounds(s: SparkSession, edges: DataFrame,
      nodes: DataFrame, eps: Long): Int = {
    val (prF, curve) = pagerankOn("pr_cold", edges,
      nodes.select(col("id"), lit(1000000000L).as("pr")), eps, MaxPrRounds)
    graft.Ck.release(prF) // only the round count is used here
    curve.length
  }

  def q178IncrementalPagerank(s: SparkSession, dir: String): DataFrame = {
    val (pr1, curve0, curve1, _, _, _) = incrementalPrRun(s, dir)
    prReport(s, pr1, "round0" -> curve0, "round1" -> curve1)
  }

  val q178Sql: String =
    s"""WITH $prGraphCtes, pr0 AS (
       |  SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes
       |),
       |${prUnrollSql("it", "pr0", MaxPrRounds, "0", prIter(_))}, winit AS (
       |  SELECT id, pr FROM ranks0 WHERE round = (SELECT r FROM stop0)
       |), ins AS (
       |  SELECT DISTINCT user_id AS src,
       |    (user_id * 37 + k) % (SELECT MAX(user_id) + 1 FROM ev) AS dst
       |  FROM ev
       |  WHERE (user_id + k) % 1499 = 0
       |    AND user_id <> (user_id * 37 + k) % (SELECT MAX(user_id) + 1 FROM ev)
       |), edges1 AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM edges
       |    EXCEPT
       |    SELECT src, dst FROM edges WHERE (src * 7 + dst * 11) % 997 = 0)
       |  UNION
       |  SELECT src, dst FROM ins
       |), deg1 AS (
       |  SELECT src, COUNT(*) AS outdeg FROM edges1 GROUP BY src
       |),
       |${prUnrollSql("wit", "winit", MaxWarmRounds, "1", prIter(_, "edges1", "deg1"))}
       |${prReportSql("1", "round0" -> "0", "round1" -> "1")}""".stripMargin

  val q79Sql: String =
    s"""WITH $prGraphCtes, pr0 AS (
       |  SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes
       |), it1 AS (
       |${prIter("pr0")}
       |), it2 AS (
       |${prIter("it1")}
       |), it3 AS (
       |${prIter("it2")}
       |)
       |SELECT t.id AS user_id, CAST(t.pr AS BIGINT) AS pr,
       |  COALESCE(d.outdeg, 0) AS outdeg
       |FROM it3 t LEFT JOIN deg d ON d.src = t.id
       |ORDER BY pr DESC, user_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q80: GROUPING SETS with an explicit grouping id — the one
  // multi-level aggregation shape rollup (q10) and cube (q53) can't
  // express: an arbitrary, non-hierarchical set of grouping keys in
  // a single pass over the fact table. The gid is derived from the
  // grouped columns' null-ness (portable across engines; the data
  // has no NULL source/lang, so NULL means "aggregated away").
  // ---------------------------------------------------------------
  def q80GroupingSets(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir).createOrReplaceTempView("g_documents")
    s.sql(q80Body("g_documents"))
  }

  private def q80Body(tbl: String): String =
    s"""SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
       |  (CASE WHEN source IS NULL THEN 2 ELSE 0 END
       |   + CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS gid,
       |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM $tbl
       |GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
       |ORDER BY gid, source, lang""".stripMargin

  val q80Sql: String = q80Body("documents")

  // ---------------------------------------------------------------
  // q81: equi-DEPTH histogram (per-language n_chars deciles via
  // ntile) — the profiling operator behind skew detection and
  // range-partition boundary planning. ntile over (n_chars, doc_id)
  // is a total order, so decile assignment is deterministic in both
  // engines. One shuffle on lang; at 100 TB this becomes
  // approx_percentile per partition + merge — the exact form is the
  // correctness reference for that sketch (q52 holds the approx
  // twin).
  // ---------------------------------------------------------------
  def q81Histogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    documents(s, dir)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
        Relational.ratio4(sum(col("n_chars")), count(lit(1))).as("avg_chars"))
      .orderBy("lang", "decile")
  }

  val q81Sql: String =
    """WITH d AS (
      |  SELECT lang, n_chars,
      |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      |  FROM documents
      |)
      |SELECT lang, CAST(decile AS INT) AS decile, COUNT(*) AS n,
      |  MIN(n_chars) AS lo, MAX(n_chars) AS hi,
      |  ((20000*CAST(SUM(n_chars) AS BIGINT) + COUNT(*))
      |    // (2*COUNT(*))) / 10000.0 AS avg_chars
      |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin

  // ---------------------------------------------------------------
  // q108: URL/domain curation — the CommonCrawl-style front gate of a
  // web corpus: parse each document's URL (Spark's native parse_url
  // expression), reduce the host to its registered domain, drop
  // blocklisted domains with a broadcast anti join, and cap each
  // surviving domain at its top-10 documents by length (per-domain
  // caps are how crawl pipelines stop a single site from dominating
  // the mix). The blocklist is a broadcast anti join (never shuffles
  // the corpus); the cap is a per-domain top-k window — at 100 TB the
  // window would route through the native TopKPerGroup operator so
  // the shuffle carries <=k rows per domain (q41/q96 pin that path);
  // the declarative window form is kept here because the oracle
  // mirrors it directly. URLs are derived deterministically from
  // (source, doc_id) since the synthetic corpus carries no URL
  // column; the parse path exercised is the real one.
  // ---------------------------------------------------------------
  private val BlockedDomains = Seq(
    "src3.example.com", "src7.example.com", "src12.example.com")

  def q108UrlCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withUrl = documents(s, dir).withColumn("url",
      concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), col("doc_id")))
    val withDomain = withUrl
      .withColumn("host", expr("parse_url(url, 'HOST')"))
      // registered domain = last three labels of the host
      .withColumn("domain",
        regexp_extract(col("host"), "([^.]+\\.[^.]+\\.[^.]+)$", 1))
    val blocked = BlockedDomains.toDF("domain")
    val allowed = withDomain.join(broadcast(blocked), Seq("domain"), "left_anti")
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    allowed.withColumn("rn", row_number().over(w))
      .withColumn("kept", (col("rn") <= 10).cast("long"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 1, col("n_chars"))
          .otherwise(lit(0L))).as("chars_kept"))
      .orderBy("domain")
  }

  val q108Sql: String = {
    val bl = BlockedDomains.map(d => s"'$d'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, source || '.example.com' AS domain
       |  FROM documents
       |  WHERE source || '.example.com' NOT IN ($bl)
       |), r AS (
       |  SELECT domain, n_chars,
       |    row_number() OVER (PARTITION BY domain
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM d
       |)
       |SELECT domain, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS chars_kept
       |FROM r GROUP BY domain ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------
  // q119: SPAN-CORRUPTION pair generation — the T5/UL2 denoising
  // objective materialized as a data transform: mask every 3-word
  // span starting at token positions ≡ 7 (mod 10) (~30% of tokens,
  // deterministic so both engines build byte-identical pairs),
  // replace each span with a numbered sentinel in the INPUT, and
  // emit "sentinel + original words" as the TARGET. One posexplode,
  // one per-doc ordered re-aggregation (the q110 reassembly
  // machinery) — no UDFs, no driver loops; at 100 TB this runs at
  // tokenize-pass cost. Output pins the per-source corruption rate
  // and md5s over the (input, target) pair streams in doc order.
  // ---------------------------------------------------------------
  def q119SpanCorruption(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"), col("source"),
        posexplode(Hashing.words(col("text"))))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        col("col").as("w"))
    val m = col("pos") % 10
    val sentinel = concat(lit("<extra_id_"),
      Relational.ldiv(col("pos"), lit(10L)), lit(">"))
    val pieces = toks
      .withColumn("in_piece",
        when(m === 7, sentinel)
          .when(m === 8 || m === 9, lit(null).cast("string"))
          .otherwise(col("w")))
      .withColumn("tgt_piece",
        when(m === 7, concat(sentinel, lit(" "), col("w")))
          .when(m === 8 || m === 9, col("w"))
          .otherwise(lit(null).cast("string")))
    def joined(piece: String): Column = concat_ws(" ",
      transform(
        filter(sort_array(collect_list(struct(col("pos"), col(piece)))),
          p => p.getField(piece).isNotNull),
        p => p.getField(piece)))
    val perDoc = pieces.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_toks"),
        count(when(m.isin(7, 8, 9), 1)).as("n_masked"),
        joined("in_piece").as("input"),
        joined("tgt_piece").as("target"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_examples"),
        Relational.ratio4(sum(col("n_masked")), sum(col("n_toks")))
          .as("masked_ratio"),
        md5(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("doc_id"),
            col("input")))), p => p.getField("input")))).as("inputs_md5"),
        md5(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("doc_id"),
            col("target")))), p => p.getField("target")))).as("targets_md5"))
      .orderBy("source")
  }

  val q119Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
      |    ws[CAST(i+1 AS INT)] AS w
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
      |        FROM documents), unnest(range(len(ws))) t(i)
      |), pieces AS (
      |  SELECT doc_id, source, pos, w,
      |    CASE WHEN pos % 10 = 7
      |           THEN '<extra_id_' || (pos // 10) || '>'
      |         WHEN pos % 10 IN (8, 9) THEN NULL
      |         ELSE w END AS in_piece,
      |    CASE WHEN pos % 10 = 7
      |           THEN '<extra_id_' || (pos // 10) || '> ' || w
      |         WHEN pos % 10 IN (8, 9) THEN w
      |         ELSE NULL END AS tgt_piece
      |  FROM tok
      |), per_doc AS (
      |  SELECT doc_id, source, COUNT(*) AS n_toks,
      |    COUNT(CASE WHEN pos % 10 IN (7, 8, 9) THEN 1 END) AS n_masked,
      |    COALESCE(string_agg(in_piece, ' ' ORDER BY pos), '') AS input,
      |    COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target
      |  FROM pieces GROUP BY doc_id, source
      |)
      |SELECT source, COUNT(*) AS n_examples,
      |  ((20000*CAST(SUM(n_masked) AS BIGINT) + CAST(SUM(n_toks) AS BIGINT))
      |    // (2*CAST(SUM(n_toks) AS BIGINT))) / 10000.0 AS masked_ratio,
      |  md5(string_agg(input, chr(10) ORDER BY doc_id)) AS inputs_md5,
      |  md5(string_agg(target, chr(10) ORDER BY doc_id)) AS targets_md5
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q127: TARGETED DELETION apply with audit — the right-to-be-
  // forgotten / opt-out maintenance pass every stored corpus needs:
  // remove every event belonging to a deletion list and account for
  // exactly what was removed. The deletion list is user-keyed and
  // tiny relative to the data (here: user_id ≡ 0 mod 97), so the
  // apply is a BROADCAST anti join — the corpus never shuffles; at
  // 100 TB the same pass is a bloom-filter pre-pass + anti join
  // (q51's shape) when the list outgrows a broadcast. The audit
  // emits before/after/deleted rows and users per type, plus a
  // residual count joined back from the cleaned frame — pinned 0,
  // so the gate FAILS if the apply ever leaks a requested row.
  // ---------------------------------------------------------------
  def q127DeletionApply(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val toDelete = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 97 === 0)
    val cleaned = ev.join(broadcast(toDelete), Seq("user_id"), "left_anti")
    val before = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("rows_before"),
        countDistinct(col("user_id")).as("users_before"))
    val after = cleaned.groupBy(col("event_type"))
      .agg(count(lit(1)).as("rows_after"),
        countDistinct(col("user_id")).as("users_after"))
    val residual = cleaned.join(broadcast(toDelete), Seq("user_id"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("res"))
    // LEFT join from `before`: an event type whose rows were ALL
    // deleted must still appear in the audit (rows_after = 0) — an
    // inner join would silently drop exactly the rows the audit is
    // for
    before.join(after, Seq("event_type"), "left")
      .join(residual, Seq("event_type"), "left")
      .select(col("event_type"),
        col("rows_before"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        (col("rows_before") - coalesce(col("rows_after"), lit(0L)))
          .as("rows_deleted"),
        (col("users_before") - coalesce(col("users_after"), lit(0L)))
          .as("users_deleted"),
        coalesce(col("res"), lit(0L)).as("residual_rows"))
      .orderBy("event_type")
  }

  val q127Sql: String =
    """WITH del AS (
      |  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
      |), cleaned AS (
      |  SELECT * FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.user_id = e.user_id)
      |), b AS (
      |  SELECT event_type, COUNT(*) AS rows_before,
      |    COUNT(DISTINCT user_id) AS users_before
      |  FROM events GROUP BY event_type
      |), a AS (
      |  SELECT event_type, COUNT(*) AS rows_after,
      |    COUNT(DISTINCT user_id) AS users_after
      |  FROM cleaned GROUP BY event_type
      |), r AS (
      |  SELECT event_type, COUNT(*) AS res
      |  FROM cleaned c JOIN del USING (user_id) GROUP BY event_type
      |)
      |SELECT event_type, rows_before,
      |  COALESCE(rows_after, 0) AS rows_after,
      |  rows_before - COALESCE(rows_after, 0) AS rows_deleted,
      |  users_before - COALESCE(users_after, 0) AS users_deleted,
      |  CAST(COALESCE(res, 0) AS BIGINT) AS residual_rows
      |FROM b LEFT JOIN a USING (event_type) LEFT JOIN r USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q129: WEIGHTED sampling without replacement — priority sampling
  // (Duffield/Lund/Thorup): each doc draws a deterministic uniform
  // h (md5-prefix int) and keeps priority h / weight; the k smallest
  // priorities per source are the sample, so heavier docs (more
  // chars) are proportionally likelier — exactly, without float RNG
  // (the division is int64 floor, ties broken by doc_id). The top-k
  // runs through the NATIVE TopKPerGroup heap operator: the shuffle
  // carries <= k rows per (partition, source), not the corpus —
  // q47/q56 are the unweighted/stratified siblings.
  // ---------------------------------------------------------------
  def q129WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val d = documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      // `div`, not ldiv: the 60-bit h exceeds double's 53-bit mantissa,
      // so ldiv's (a - a%b)/b double division rounds the quotient;
      // the SQL div operator stays in int64 end to end
      .withColumn("h", h)
      .withColumn("pri", expr("h div n_chars"))
      .drop("h")
    val top = graft.plans.ops.topKPerGroup(d,
      groupCols = Seq(col("source")),
      orderCols = Seq(col("pri").asc, col("doc_id").asc),
      k = 5)
    top.withColumn("rnk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("pri"), col("doc_id"))))
      .select(col("source"), col("rnk"), col("doc_id"),
        col("n_chars"), col("pri"))
      .orderBy("source", "rnk")
  }

  val q129Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      // n_chars AS pri
      |  FROM documents
      |)
      |SELECT source, rnk, doc_id, n_chars, pri FROM (
      |  SELECT source, doc_id, n_chars, pri,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY pri, doc_id) AS rnk
      |  FROM d
      |) WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q150: capped-proportional MIXTURE allocation — the "how much of
  // each source goes in the run" solve that precedes q76's sampling
  // APPLY: dominant sources are capped at the mean source mass
  // (scale-free — the cap adapts to the corpus instead of a magic
  // constant), and a budget of HALF THE UNCAPPED corpus is allocated
  // proportionally to the capped masses — so the mass the cap removes
  // from dominant sources genuinely redistributes to the small ones
  // (budget over msum, never msum over itself, which would degenerate
  // to a flat m/2 regardless of capping). Each source's allocation is
  // expressed as epochs in e3 units; epochs_e3 > 1000 ⇒ that source
  // must repeat (reachable exactly when capping removes more than
  // half the corpus mass: 500·tot/msum > 1000 ⇔ tot > 2·msum). Every
  // step is int64 div — no floats, no sqrt. The corpus is touched
  // once (the per-source mass aggregate); everything downstream is
  // arithmetic on the |sources|-row frame.
  // ---------------------------------------------------------------
  def q150MixtureAllocate(s: SparkSession, dir: String): DataFrame = {
    val ld = Relational.ldiv _
    // the per-source mass frame is referenced four times downstream
    // (caps twice, budget, final) — persist eagerly so the corpus is
    // scanned ONCE, not once per reference (PlanQualitySpec pins it)
    val w = documents(s, dir).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("t_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(w)
    val caps = w.crossJoin(broadcast(w.agg(
        sum(col("t_chars")).as("tot"), count(lit(1)).as("n_src"))))
      .withColumn("cap", ld(col("tot"), col("n_src")))
      .withColumn("m", least(col("t_chars"), col("cap")))
    val budget = caps.agg(sum(col("m")).as("msum"))
    caps.crossJoin(broadcast(budget))
      .withColumn("b", ld(col("tot"), lit(2L))) // half the UNCAPPED corpus
      .withColumn("alloc_chars", ld(col("b") * col("m"), col("msum")))
      .withColumn("epochs_e3",
        ld(lit(1000L) * col("alloc_chars"), col("t_chars")))
      .withColumn("capped", (col("t_chars") > col("cap")).cast("long"))
      .select(col("source"), col("t_chars"), col("capped"),
        col("alloc_chars"), col("epochs_e3"))
      .orderBy("source")
  }

  val q150Sql: String =
    """WITH w AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t_chars
      |  FROM documents GROUP BY source
      |), caps AS (
      |  SELECT source, t_chars,
      |    (SELECT CAST(SUM(t_chars) AS BIGINT) FROM w)
      |      // (SELECT COUNT(*) FROM w) AS cap
      |  FROM w
      |), m AS (
      |  SELECT source, t_chars, cap, LEAST(t_chars, cap) AS m FROM caps
      |), b AS (
      |  SELECT CAST(SUM(m) AS BIGINT) AS msum,
      |    (SELECT CAST(SUM(t_chars) AS BIGINT) FROM w) // 2 AS bgt
      |  FROM m
      |)
      |SELECT source, t_chars,
      |  CAST(CASE WHEN t_chars > cap THEN 1 ELSE 0 END AS BIGINT) AS capped,
      |  ((SELECT bgt FROM b) * m) // (SELECT msum FROM b) AS alloc_chars,
      |  (1000 * (((SELECT bgt FROM b) * m) // (SELECT msum FROM b)))
      |    // t_chars AS epochs_e3
      |FROM m ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q164: DSIR-style IMPORTANCE RESAMPLING — the standard curation
  // sampler (Xie et al. 2023, "Data Selection for Language Models
  // via Importance Resampling"): score every document by how much
  // more likely its hashed n-gram features are under a TARGET
  // distribution (here: the English slice) than under the whole
  // corpus, then resample keeping documents with probability
  // proportional to that likelihood ratio. All arithmetic exact
  // int64 so both engines hash identically:
  //   feature  = hash28(unigram | bigram) mod 512 buckets
  //   rate_e4  = ((t_f+1)(C+B) * 10^4) div ((c_f+1)(T+B))
  //              (add-1-smoothed frequency ratio, 4-dp fixed point;
  //              t_f/c_f = target/corpus counts of bucket f, T/C the
  //              totals, B the bucket count. At ~10^12-token scale
  //              the 10^4 lift must move inside a two-step div to
  //              stay under 2^63 — same envelope note as q129.)
  //   score    = avg rate over the doc's features (div, exact)
  //   keep     = hash28(doc_id) mod 10^4 < score  — the q47/q129
  //              deterministic-uniform idiom: p(keep) ~ min(1, ratio)
  // Shapes compose q76 + q109: the 512-row rate table is BROADCAST
  // into the feature stream; the corpus is scanned twice (count
  // pass, score pass) — at 100 TB you recompute the tokenize from
  // the pruned scan rather than cache a corpus-tokens-sized frame.
  // ---------------------------------------------------------------
  private val DsirB = 512L // feature buckets

  def q164ImportanceResample(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.Hashing.hash28
    val ws = Hashing.words(col("text")).as("ws")
    val feats = documents(s, dir).select(col("doc_id"), col("lang"), ws)
      .select(col("doc_id"), col("lang"), explode(concat(
        col("ws"),
        // guard: Spark sequence(1, 0) counts DOWN — a 1-word doc
        // must contribute zero bigrams, not an out-of-bounds access
        when(size(col("ws")) > 1,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
          .otherwise(array().cast("array<string>"))
      )).as("g"))
      .select(col("doc_id"), col("lang"), (hash28(col("g")) % DsirB).as("f"))
    val counts = feats.groupBy(col("f"))
      .agg(count(lit(1)).as("c_f"),
        count(when(col("lang") === "en", 1)).as("t_f"))
    val totals = counts.agg(sum(col("c_f")).as("c_tot"), sum(col("t_f")).as("t_tot"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("f"), expr(
        s"((t_f + 1) * (c_tot + $DsirB) * 10000) div ((c_f + 1) * (t_tot + $DsirB))"
      ).as("rate_e4"))
    val scored = feats.join(broadcast(rates), "f")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("rate_e4")).as("rate_sum"))
      .select(col("doc_id"), col("lang"),
        expr("rate_sum div n_feats").as("score_e4"))
    scored
      .withColumn("kept",
        hash28(col("doc_id").cast("string")) % 10000L < col("score_e4"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_kept"),
        sum(col("score_e4")).as("sum_score_e4"),
        min(when(col("kept"), col("doc_id"))).as("min_kept_doc"))
      .orderBy("lang")
  }

  val q164Sql: String = {
    import Hashing.sqlHash28
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
       |), feats AS (
       |  SELECT doc_id, lang, ${sqlHash28("g")} % $DsirB AS f FROM (
       |    SELECT doc_id, lang, unnest(ws) AS g FROM d
       |    UNION ALL
       |    SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
       |      i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)])) AS g
       |    FROM d
       |  )
       |), counts AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS c_f,
       |    CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS t_f
       |  FROM feats GROUP BY f
       |), tot AS (
       |  SELECT CAST(SUM(c_f) AS BIGINT) AS c_tot,
       |    CAST(SUM(t_f) AS BIGINT) AS t_tot FROM counts
       |), rates AS (
       |  SELECT f, ((t_f + 1) * ((SELECT c_tot FROM tot) + $DsirB) * 10000)
       |    // ((c_f + 1) * ((SELECT t_tot FROM tot) + $DsirB)) AS rate_e4
       |  FROM counts
       |), scored AS (
       |  SELECT doc_id, lang,
       |    CAST(SUM(rate_e4) AS BIGINT) // COUNT(*) AS score_e4
       |  FROM feats JOIN rates USING (f)
       |  GROUP BY doc_id, lang
       |)
       |SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN ${sqlHash28("CAST(doc_id AS VARCHAR)")} % 10000 < score_e4
       |        THEN 1 END) AS n_kept,
       |  CAST(SUM(score_e4) AS BIGINT) AS sum_score_e4,
       |  MIN(CASE WHEN ${sqlHash28("CAST(doc_id AS VARCHAR)")} % 10000 < score_e4
       |      THEN doc_id END) AS min_kept_doc
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q174: EPOCH SHARD layout — the write-side determinism every
  // training run needs: assign each document to one of S shards per
  // epoch via a seeded hash (shard = h28("ep<e>:" || doc_id) mod S),
  // so the assignment is (a) reproducible bit-for-bit across reruns,
  // (b) a pure MAP stage — the only shape that survives 100 TB (the
  // exact-balance alternative, row_number round-robin over a global
  // sort, is a single-partition window at scale), and (c) RESHUFFLED
  // between epochs (different seed => different co-location, the
  // property gradient noise decorrelation wants). The audit then
  // PROVES what hash sharding only promises in expectation: per
  // (epoch, shard) doc counts, token mass, source diversity, and —
  // for epoch 2 — how many docs landed with the same shard id as in
  // epoch 1 (co-location churn, expected n/S per shard). One corpus
  // scan: both epochs' assignments are columns of the same pass, the
  // bounded x2 union collapses map-side to 2*S groups.
  // ---------------------------------------------------------------
  private val EpochShards = 8

  def q174EpochShards(s: SparkSession, dir: String): DataFrame = {
    def shard(e: Int): Column =
      Hashing.hash28(concat(lit(s"ep$e:"), col("doc_id").cast("string"))) %
        lit(EpochShards.toLong)
    val a = documents(s, dir).select(
      col("doc_id"), col("source"),
      size(Hashing.words(col("text"))).cast("long").as("toks"),
      shard(1).as("sh1"), shard(2).as("sh2"))
    val u = a.select(lit(1L).as("epoch"), col("sh1").as("shard"),
        col("source"), col("toks"), lit(0L).as("same"))
      .unionByName(a.select(lit(2L).as("epoch"), col("sh2").as("shard"),
        col("source"), col("toks"),
        when(col("sh1") === col("sh2"), 1L).otherwise(0L).as("same")))
    u.groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("same")).as("n_same_shard"))
      .orderBy("epoch", "shard")
  }

  val q174Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, source,
       |    CAST(length(string_split(text, ' ')) AS BIGINT) AS toks,
       |    CAST('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 7)
       |      AS BIGINT) % $EpochShards AS sh1,
       |    CAST('0x' || substr(md5('ep2:' || CAST(doc_id AS VARCHAR)), 1, 7)
       |      AS BIGINT) % $EpochShards AS sh2
       |  FROM documents
       |), u AS (
       |  SELECT 1 AS epoch, sh1 AS shard, source, toks, 0 AS same FROM a
       |  UNION ALL
       |  SELECT 2 AS epoch, sh2 AS shard, source, toks,
       |    CASE WHEN sh1 = sh2 THEN 1 ELSE 0 END AS same FROM a
       |)
       |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(SUM(same) AS BIGINT) AS n_same_shard
       |FROM u GROUP BY epoch, shard
       |ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------------------
  // q196: HITS hubs & authorities (Kleinberg 1999) — the DIRECTED
  // complement to the PageRank family: PR scores a node by the rank
  // of whoever points AT it; HITS separates the two roles a link
  // graph actually has — hubs (pages whose outlinks select well) and
  // authorities (pages good hubs point at) — the decomposition a
  // crawl-frontier or source-curation ranker wants when "links to
  // good stuff" and "is good stuff" must be scored apart. The
  // mutual recursion a = Eᵀh, h = Ea runs FIXED_ROUNDS = 4 power
  // iterations in pure int64 fixed point: after every half-step the
  // vector renormalizes to max = 10000 via integer (x·10⁴) div max —
  // deterministic in both engines, so the oracle replays it exactly
  // (floats would drift; the L2 norm of the textbook is replaced by
  // max-norm, which changes nothing about the fixpoint direction).
  // max > 0 is structural: every dst has an in-edge, so the maximal
  // score always sits on a node that feeds the next half-step.
  //
  // Scale shape: the edge list is persisted ONCE and both half-steps
  // of every round join it against a NODE-SIZED score vector
  // (broadcast; at node counts past a broadcast the joins
  // co-partition on src/dst — the prRound treatment). Per-round
  // frames are localCheckpoint(eager)-ed and superseded checkpoints
  // released (Ck.scala). Int64 envelope: raw ≤ maxdeg·10⁴ and the
  // renormalize multiplies by 10⁴ — safe while maxdeg < 9e13.
  // Output is 20 rows at any graph scale.
  // ---------------------------------------------------------------
  private[graft] val HitsRounds = 4

  /** q196's edge derivation (also SqlSurface.hitsLoopSql's input). */
  private[graft] def hitsEdges(s: SparkSession, dir: String): DataFrame = {
    val ev = Mining.graphEv(s, dir)
    val n = ev.agg((max(col("user_id")) + 1L).as("n"))
    ev.crossJoin(broadcast(n))
      .select(col("user_id").as("src"),
        ((col("user_id") * 31L + col("k")) % col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The raw half of one HITS half-step: Σ over the `key`-incident
    * edges of the other role's score, per `out` node — the default
    * body of [[hitsScores]] (SqlSurface.hitsRawSql is pinned
    * plan-equal to it).
    */
  private[graft] def hitsRawFrame(nodes: DataFrame, edges: DataFrame,
      scores: DataFrame, key: String, out: String): DataFrame =
    nodes.join(
      // size-gated score broadcast — the prRound treatment (r17):
      // past the threshold the half-step joins co-partition on
      // src/dst as the scale-shape comment documents
      edges.join(graft.Loop.broadcastIfFits(scores
          .select(col("id").as(key), col("score").as("os"))), key)
        .groupBy(col(out)).agg(sum(col("os")).as("raw")),
      col("id") === col(out), "left")
      .select(col("id"), coalesce(col("raw"), lit(0L)).as("raw"))

  /** The one HITS driver (q196, ops.hits, SqlSurface.hitsLoopSql and
    * the MiningSpec replay run it): takes a caller-persisted distinct
    * (src, dst) edge frame without self-loops; returns the
    * CHECKPOINTED final (authority, hub) score frames — caller
    * releases both via graft.Ck.release. An edgeless input returns
    * its empty init checkpoint as both. `raw` is the half-step body,
    * raw(nodes, oriented edges, scores, key, out): [[hitsRawFrame]],
    * or the SQL surface's text pinned plan-equal to it; the layout,
    * checkpoints, renormalize, guard and releases are the driver's.
    */
  private[graft] def hitsScores(edges: DataFrame,
      rounds: Int = HitsRounds,
      raw: (DataFrame, DataFrame, DataFrame, String, String) => DataFrame =
        hitsRawFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Dual-orientation edge layout (r16, the GraphX trade): the
    // a-half-step aggregates by dst, the h-half-step by src — one
    // copy of the edge cache laid out on EACH aggregation key makes
    // every half-step's sum complete-mode on co-partitioned input,
    // zero exchanges per half-step (8 edge-sized shuffles per run
    // gone at any scale) for 2x steady-state edge cache. Width is
    // scale-adaptive (Loop.statePartitions) and shared with the
    // node/score side so the left join co-partitions too. The
    // CALLER's edge cache (if any) is released below the moment the
    // three derived caches are built — nothing in the loop reads the
    // input frame again, so peak residency is 3x the edge set only
    // transiently during the builds, 2x for the iteration (r17,
    // ADVICE: the old comment claimed 2x while the caller's persist
    // sat resident for the whole loop).
    val k = graft.Loop.statePartitions(edges)
    val eByDst = edges.repartition(k, col("dst")).persist(MEMORY_AND_DISK)
    val eBySrc = edges.repartition(k, col("src")).persist(MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct().repartition(k, col("id")).persist(MEMORY_AND_DISK)
    // one half-step = ONE checkpoint job (the q172 accumulator-twin
    // treatment, commit 99ab329): raw = Σ over `key`-incident edges
    // of the other role's score is checkpointed with max(raw) riding
    // the SAME job (Loop.checkpoint), and the integer renormalize stays
    // LAZY over that checkpoint — the next half-step's broadcast of
    // the scores materializes it once. The old shape paid a raw
    // checkpoint + a broadcast-max job + a normed checkpoint per
    // half-step (~24 jobs/run); this one pays 8 checkpoints. The
    // returned frames are the lazy renormalizes over the two final
    // raw checkpoints — Ck.release walks to those, so the caller
    // contract (release a and h after their last consumer) holds.
    def halfStep(scores: DataFrame, key: String, out: String): DataFrame = {
      // the out-keyed orientation feeds the groupBy(out) exchange-free
      val oriented = if (out == "dst") eByDst else eBySrc
      val (r, mx) = graft.Loop.checkpoint(
        raw(nodes, oriented, scores, key, out), max(col("raw")),
        keepLayout = true)
      // structural on a non-empty graph (every dst has an in-edge, so
      // some raw > 0) — and the exact-integer contract needs a
      // literal divisor, so a zero here must fail loudly, never divide
      if (mx <= 0L) graft.Ck.release(r)
      require(mx > 0L, s"HITS renormalize: max(raw) = $mx must be positive")
      r.select(col("id"), expr(s"(raw * 10000) div ${mx}L").as("score"))
    }
    var a: DataFrame = null
    var h: DataFrame = null
    try {
      touch(eByDst)
      touch(eBySrc)
      touch(nodes)
      // last read of the input frame was nodes' build: drop its cache
      // now (no-op when the caller passed an unpersisted frame; the
      // callers' own end-of-query unpersist stays as an idempotent
      // backstop)
      edges.unpersist(blocking = false)
      // the node count rides the init checkpoint: an edgeless graph
      // returns it, empty, as both score vectors
      val (h0, n) = graft.Loop.checkpoint(
        nodes.withColumn("score", lit(10000L)), count(lit(1)), keepLayout = true)
      h = h0
      if (n == 0L) a = h
      else for (_ <- 1 to rounds) {
        val aNext = halfStep(h, "src", "dst")  // authorities ← hubs
        // aNext's checkpoint is materialized (checkpoint is eager) and
        // the superseded frames' last consumer has run: a was consumed
        // by the previous hNext, h by this aNext
        if (a != null) graft.Ck.release(a)
        a = aNext
        val hNext = halfStep(a, "dst", "src")  // hubs ← authorities
        graft.Ck.release(h)
        h = hNext
      }
      (a, h)
    } catch {
      case t: Throwable =>
        Seq(a, h).filter(_ != null).foreach(graft.Ck.release)
        throw t
    } finally {
      nodes.unpersist(blocking = false)
      eByDst.unpersist(blocking = false)
      eBySrc.unpersist(blocking = false)
    }
  }

  def q196Hits(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = hitsEdges(s, dir).persist(MEMORY_AND_DISK)
    touch(edges)
    val (a, h) = hitsScores(edges)
    def top(part: String, v: DataFrame): DataFrame =
      v.orderBy(col("score").desc, col("id")).limit(10)
        .withColumn("k", row_number().over(
          Window.orderBy(col("score").desc, col("id"))).cast("long"))
        .select(lit(part).as("part"), col("k"),
          col("id").as("node"), col("score"))
    val out = top("auth", a).unionByName(top("hub", h)).orderBy("part", "k")
    val ck = out.localCheckpoint(true) // 20 rows — release everything
    edges.unpersist(blocking = false)
    graft.Ck.release(a)
    graft.Ck.release(h)
    ck
  }

  val q196Sql: String = {
    def round(r: Int): String = {
      val hPrev = if (r == 1) "h0" else s"h${r - 1}"
      s"""ar$r AS (
         |  SELECT n.id, COALESCE(s.raw, 0) AS raw FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.dst AS id2, CAST(SUM(h.score) AS BIGINT) AS raw
         |    FROM edges e JOIN $hPrev h ON h.id = e.src GROUP BY e.dst
         |  ) s ON s.id2 = n.id
         |), a$r AS MATERIALIZED (
         |  SELECT id, (raw * 10000) // (SELECT MAX(raw) FROM ar$r) AS score
         |  FROM ar$r
         |), hr$r AS (
         |  SELECT n.id, COALESCE(s.raw, 0) AS raw FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.src AS id2, CAST(SUM(a.score) AS BIGINT) AS raw
         |    FROM edges e JOIN a$r a ON a.id = e.dst GROUP BY e.src
         |  ) s ON s.id2 = n.id
         |), h$r AS MATERIALIZED (
         |  SELECT id, (raw * 10000) // (SELECT MAX(raw) FROM hr$r) AS score
         |  FROM hr$r
         |)""".stripMargin
    }
    val rounds = (1 to HitsRounds).map(round).mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, CAST(json_extract(props, '$$.k') AS BIGINT) AS k
       |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
       |), nn AS (SELECT MAX(user_id) + 1 AS n FROM ev),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT user_id AS src,
       |    (user_id*31 + k) % (SELECT n FROM nn) AS dst
       |  FROM ev WHERE user_id <> (user_id*31 + k) % (SELECT n FROM nn)
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
       |  )
       |), h0 AS (SELECT id, 10000 AS score FROM nodes),
       |$rounds
       |SELECT part, k, node, score FROM (
       |  SELECT 'auth' AS part,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS BIGINT) AS k,
       |    id AS node, CAST(score AS BIGINT) AS score
       |  FROM a$HitsRounds
       |  UNION ALL
       |  SELECT 'hub' AS part,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS BIGINT) AS k,
       |    id AS node, CAST(score AS BIGINT) AS score
       |  FROM h$HitsRounds
       |) WHERE k <= 10 ORDER BY part, k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q209: SOURCE-DIVERSITY index — the one corpus-composition scalar
  // the curation family (q75 source stats, q150 mixture allocate,
  // q76 mixture sample) still lacked: per language, HOW CONCENTRATED
  // is the source distribution? Gini–Simpson diversity
  // 1 − Σ(cₛ/S)² (the probability two random docs come from
  // DIFFERENT sources) plus the inverse-Simpson "effective source
  // count" S²/Σcₛ² (Hill number of order 2) — the number a mixture
  // rebalancer actually wants: 40 sources with effective count 3
  // means three sources own the language. Both in exact integer
  // arithmetic (ratio4 half-up / e4 integer div — no floats).
  //
  // Scale shape: one partial-aggregated (lang, source) count pass,
  // then a language-sized aggregate — nothing row-scaled leaves the
  // first exchange. Int64 envelope: 20000·S² needs S < ~2e7 docs
  // per language; past that widen to decimal as q195 does.
  // ---------------------------------------------------------------
  def q209DiversityIndex(s: SparkSession, dir: String): DataFrame = {
    val counts = documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        Relational.ratio4(col("n_docs") * col("n_docs") - col("s2"),
          col("n_docs") * col("n_docs")).as("simpson_4"),
        expr("(10000 * n_docs * n_docs) div s2").as("inv_simpson_e4"))
      .orderBy("lang")
  }

  val q209Sql: String =
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY lang, source
      |), a AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    CAST(SUM(c*c) AS BIGINT) AS s2
      |  FROM c GROUP BY lang
      |)
      |SELECT lang, n_docs, n_sources,
      |  ((20000 * (n_docs*n_docs - s2) + n_docs*n_docs)
      |    // (2 * n_docs*n_docs)) / 10000.0 AS simpson_4,
      |  (10000 * n_docs * n_docs) // s2 AS inv_simpson_e4
      |FROM a ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q212: source-volume GINI — q209's diversity says how many
  // effective sources a language has; this says how UNEQUAL the
  // token volume is across them (the rebalancing trigger: gini → 0
  // is uniform contribution, → 1 is one source owning the corpus).
  // Exact integer form of the classic sorted-rank formula over
  // per-source token counts x₍₁₎ ≤ … ≤ x₍ₙ₎:
  //   G = (2·Σ i·x₍ᵢ₎ − (n+1)·S) / (n·S)
  // with the rank assigned by a deterministic (tokens, source) sort
  // and the division as the half-up cross-multiplied ratio4. Tokens
  // are the engine-standard whitespace split count.
  //
  // Scale shape: one (lang, source) partial-agg pass; the ranking
  // window runs over SOURCE-sized rows (dozens per language), not
  // documents. Int64 envelope: 20000·2·n·S needs n·S < ~2.3e14
  // source-tokens per language.
  // ---------------------------------------------------------------
  def q212SourceGini(s: SparkSession, dir: String): DataFrame = {
    val perSource = documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
    val w = Window.partitionBy(col("lang")).orderBy(col("toks"), col("source"))
    perSource
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("toks")).as("total_tokens"),
        sum(col("rk") * col("toks")).as("rw"))
      .select(col("lang"), col("n_sources"), col("total_tokens"),
        when(col("total_tokens") === 0L, lit(null).cast("double"))
          .otherwise(Relational.ratio4(
            lit(2L) * col("rw") - (col("n_sources") + 1L) * col("total_tokens"),
            col("n_sources") * col("total_tokens")))
          .as("gini_4"))
      .orderBy("lang")
  }

  val q212Sql: String =
    """WITH ps AS (
      |  SELECT lang, source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
      |  FROM documents GROUP BY lang, source
      |), rk AS (
      |  SELECT lang, toks,
      |    CAST(row_number() OVER (
      |      PARTITION BY lang ORDER BY toks, source) AS BIGINT) AS rk
      |  FROM ps
      |), a AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |    CAST(SUM(rk * toks) AS BIGINT) AS rw
      |  FROM rk GROUP BY lang
      |)
      |SELECT lang, n_sources, total_tokens,
      |  CASE WHEN total_tokens = 0 THEN NULL ELSE
      |    ((20000 * (2*rw - (n_sources+1)*total_tokens)
      |       + n_sources*total_tokens)
      |      // (2 * n_sources * total_tokens)) / 10000.0
      |  END AS gini_4
      |FROM a ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_source_gini" -> q212SourceGini _,
    "q209_diversity_index" -> q209DiversityIndex _,
    "q196_hits" -> q196Hits _,
    "q186_personalized_pr" -> q186PersonalizedPr _,
    "q175_pagerank_converge" -> q175PagerankConverge _,
    "q178_incremental_pagerank" -> q178IncrementalPagerank _,
    "q174_epoch_shards" -> q174EpochShards _,
    "q164_importance_resample" -> q164ImportanceResample _,
    "q150_mixture_allocate" -> q150MixtureAllocate _,
    "q129_weighted_sample" -> q129WeightedSample _,
    "q127_deletion_apply" -> q127DeletionApply _,
    "q119_span_corruption" -> q119SpanCorruption _,
    "q108_url_curation" -> q108UrlCuration _,
    "q76_mixture_sample" -> q76MixtureSample _,
    "q77_cdc_apply" -> q77CdcApply _,
    "q78_length_buckets" -> q78LengthBuckets _,
    "q223_sequence_pack" -> q223SequencePack _,
    "q79_pagerank" -> q79PageRank _,
    "q80_grouping_sets" -> q80GroupingSets _,
    "q81_histogram" -> q81Histogram _)

  val oracles: Map[String, String] = Map(
    "q212_source_gini" -> q212Sql,
    "q209_diversity_index" -> q209Sql,
    "q196_hits" -> q196Sql,
    "q186_personalized_pr" -> q186Sql,
    "q175_pagerank_converge" -> q175Sql,
    "q178_incremental_pagerank" -> q178Sql,
    "q174_epoch_shards" -> q174Sql,
    "q164_importance_resample" -> q164Sql,
    "q150_mixture_allocate" -> q150Sql,
    "q129_weighted_sample" -> q129Sql,
    "q127_deletion_apply" -> q127Sql,
    "q119_span_corruption" -> q119Sql,
    "q108_url_curation" -> q108Sql,
    "q76_mixture_sample" -> q76Sql,
    "q77_cdc_apply" -> q77Sql,
    "q78_length_buckets" -> q78Sql,
    "q223_sequence_pack" -> q223Sql,
    "q79_pagerank" -> q79Sql,
    "q80_grouping_sets" -> q80Sql,
    "q81_histogram" -> q81Sql)
}
