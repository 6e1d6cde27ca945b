package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{Curation, Mining}

/** The SQL-first entry surface: the engine consumed the way a
  * SQL-only user consumes a real analytics engine — temp views over
  * the table inventory, `spark.sql` texts for representative
  * operators (one per family), and SQL round bodies for the
  * convergence loops. SqlSurfaceSpec pins each SQL form PLAN-EQUAL
  * (`optimizedPlan.sameResult`) to its DataFrame form, so a SQL user
  * gets byte-identical plans — same pushdown, same broadcast sides,
  * same partial aggregation — not a parallel implementation. Each
  * loop runs on its one DataFrame driver (ops.star2Core /
  * ops.ccWarmStart, Curation.pagerankOn, Curation.hitsScores,
  * Mining.kcorePeel, Mining.sccAssign), which the SQL surface hands
  * only its round bodies.
  *
  * Texts are Spark SQL (the engine surface), distinct from the
  * DuckDB oracle texts in the qNN files (the correctness gate).
  * Two authoring rules keep the plans equal to the DataFrame forms:
  *
  *  - No `WITH` CTEs for multi-referenced subqueries: the DataFrame
  *    forms duplicate the subplan at each use site, while a retained
  *    `WithCTE` node would canonicalize differently. Subquery text is
  *    interpolated per use site instead (the optimizer dedups work
  *    via exchange reuse either way).
  *  - Native graft functions (`word_shingles`, `minhash_sig`,
  *    `array_intersect_size`, ...) are called by their registered SQL
  *    names — [[graft.functions.GraftFunctions.ensureRegistered]]
  *    must have run (or the session built with GraftExtensions).
  */
object SqlSurface {

  /** All driver testdata tables as session temp views plus the SQL
    * function registry — delegates to [[graft.Graft.register]], the
    * single registration path, which reads through the same
    * [[graft.Tables]] loaders the DataFrame queries use (events
    * timestamp normalization and single-row-group spreading
    * included), so a SQL text and its DataFrame twin share scan
    * plans exactly.
    */
  def registerViews(s: SparkSession, dir: String): Unit =
    graft.Graft.register(s, dir)

  // ----- SQL-text mirrors of the Scala expression helpers ----------

  /** Relational.ldiv in SQL text: exact int64 floor division via
    * (a - a % b) / b, CAST BIGINT — same tree, same 2^53 envelope.
    */
  private def ldiv(a: String, b: String): String =
    s"CAST((($a) - ($a) % ($b)) / ($b) AS BIGINT)"

  private def dec(c: String): String = s"CAST($c AS DECIMAL(18,2))"

  /** Relational.davg4 in SQL text: exact half-up 4dp average of a
    * 2-decimal column (200*cents + n) DIV (2n) over 10^4.
    */
  private def davg4(c: String): String = {
    val cents = s"CAST(SUM(${dec(c)}) * 100 AS BIGINT)"
    s"${ldiv(s"200L * $cents + COUNT(1)", "2L * COUNT(1)")} / 10000.0D"
  }

  // ----- q01: relational family (filter -> hash agg -> sort) -------

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(${dec("l_quantity")}) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(${dec("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
       |  CAST(SUM(${dec("l_extendedprice")} * (1 - ${dec("l_discount")})) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}) * (1 + ${dec("l_tax")})) AS DOUBLE) AS sum_charge,
       |  ${davg4("l_quantity")} AS avg_qty,
       |  ${davg4("l_extendedprice")} AS avg_price,
       |  ${davg4("l_discount")} AS avg_disc,
       |  COUNT(1) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= CAST('1998-09-01' AS TIMESTAMP)
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ----- q23: dedup family (MinHash sig -> band buckets -> verify) -

  /** Hashing.bandStructs in SQL text: 4 bands of 3 signature rows,
    * one md5 band key each.
    */
  private val bandArray: String = {
    import graft.queries.Hashing.{BandCount, BandRows}
    (0 until BandCount).map { b =>
      val ms = (0 until BandRows)
        .map(r => s"get(msig, ${BandRows * b + r})").mkString(", ")
      s"named_struct('band_idx', $b, 'band_key', md5(concat_ws(',', $ms)))"
    }.mkString("array(\n    ", ",\n    ", ")")
  }

  val q23Sql: String =
    s"""SELECT i, j, round(jaccard, 4) AS jaccard
       |FROM (${ndPairsSql("documents")})
       |ORDER BY i, j""".stripMargin

  // ----- q88: retrieval family (BM25 over one corpus pass) ---------

  private val docsSub: String =
    """SELECT doc_id, ws, CAST(size(ws) AS BIGINT) AS dl
      |FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)""".stripMargin

  private val tfSub: String =
    s"""SELECT /*+ BROADCAST(t) */ doc_id, dl, term, COUNT(1) AS tf
       |FROM (SELECT doc_id, dl, explode(ws) AS token FROM ($docsSub))
       |JOIN (SELECT term FROM VALUES ('join'), ('vector'), ('spark') AS v(term)) t
       |  ON token = term
       |GROUP BY doc_id, dl, term""".stripMargin

  val q88Sql: String = {
    val sterm = ldiv("idf_s * tf * 1000L",
      s"tf * 1000L + ${ldiv("1200L * norm1000", "1000L")}")
    s"""SELECT doc_id, SUM(sterm) AS score, COUNT(1) AS n_terms
       |FROM (
       |  SELECT *, $sterm AS sterm FROM (
       |  SELECT *, 250L + ${ldiv("750L * dl * 1000L", "avgdl1000")} AS norm1000 FROM (
       |  SELECT *, ${ldiv("1000000L * (nn - df + 1L)", "df + 1L")} AS idf_s FROM (
       |  SELECT /*+ BROADCAST(dfc), BROADCAST(totals) */ *,
       |    ${ldiv("1000L * tt", "nn")} AS avgdl1000
       |  FROM ($tfSub)
       |  JOIN (SELECT term, COUNT(1) AS df FROM ($tfSub) GROUP BY term) dfc
       |    USING (term)
       |  CROSS JOIN (SELECT COUNT(1) AS nn, SUM(dl) AS tt FROM ($docsSub)) totals
       |  )))
       |)
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // ----- q185: retrieval-fusion family (RRF over two channels) -----

  private val rrfTokSub: String =
    """SELECT doc_id, explode(array_distinct(split(text, ' '))) AS token
      |FROM documents""".stripMargin

  private val rrfESub: String =
    """SELECT vec_id, transform(CAST(embedding AS ARRAY<DOUBLE>),
      |  x -> x / sqrt(array_dot(CAST(embedding AS ARRAY<DOUBLE>),
      |                          CAST(embedding AS ARRAY<DOUBLE>)))) AS e
      |FROM embeddings""".stripMargin

  val q185Sql: String = {
    val lexSub =
      s"""SELECT q_id, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank FROM (
         |  SELECT q_id, doc_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ov DESC, doc_id) AS lex_rank
         |  FROM (
         |    SELECT /*+ BROADCAST(q) */ q.q_id, t.doc_id, COUNT(1) AS ov
         |    FROM ($rrfTokSub) t
         |    JOIN (SELECT doc_id AS q_id, token FROM ($rrfTokSub)
         |          WHERE doc_id % 100 = 0) q
         |      USING (token)
         |    WHERE q.q_id <> t.doc_id
         |    GROUP BY q.q_id, t.doc_id
         |  )
         |) WHERE lex_rank <= 10""".stripMargin
    val vecSub =
      s"""SELECT q_id, vec_id AS doc_id, CAST(vec_rank AS BIGINT) AS vec_rank
         |FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, vec_id) AS vec_rank
         |  FROM (
         |    SELECT /*+ BROADCAST(q) */ q.q_id, e.vec_id,
         |      round(array_dot(q.qe, e.e), 4) AS cos_r
         |    FROM (SELECT vec_id AS q_id, e AS qe FROM ($rrfESub)
         |          WHERE vec_id % 100 = 0) q
         |    JOIN ($rrfESub) e ON q.q_id <> e.vec_id
         |  )
         |) WHERE vec_rank <= 10""".stripMargin
    val rrf =
      s"COALESCE(${ldiv("1000000000L", "60L + lex_rank")}, 0L)" +
        s" + COALESCE(${ldiv("1000000000L", "60L + vec_rank")}, 0L)"
    s"""SELECT q_id, fused_rank, doc_id, rrf,
       |  COALESCE(lex_rank, -1L) AS lex_rank,
       |  COALESCE(vec_rank, -1L) AS vec_rank
       |FROM (
       |  SELECT q_id, doc_id, lex_rank, vec_rank, rrf,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf DESC, doc_id) AS fused_rank
       |  FROM (
       |    SELECT q_id, doc_id, lex_rank, vec_rank, $rrf AS rrf
       |    FROM ($lexSub) l FULL OUTER JOIN ($vecSub) v USING (q_id, doc_id)
       |  )
       |) WHERE fused_rank <= 5
       |ORDER BY q_id, fused_rank""".stripMargin
  }

  // ----- q194: temporal/window family (CUSUM changepoint) ----------

  val q194Sql: String = {
    def r4s(num: String, den: String): String =
      s"(CASE WHEN $num < 0 THEN -1L ELSE 1L END" +
        s" * ((20000 * abs($num) + $den) div (2 * $den))) / 10000.0D"
    s"""SELECT event_type, n AS n_events, k AS cp_idx, __oid AS cp_event_id,
       |  ${r4s("cu_n", "cu_d")} AS cusum_c4,
       |  ${r4s("pfx", "mb_d")} AS mean_before_c4,
       |  CASE WHEN n > k THEN ${r4s("ma_n", "ma_d")}
       |    ELSE CAST(NULL AS DOUBLE) END AS mean_after_c4
       |FROM (
       |  SELECT *, abs(d) AS cu_n, n * 100L * n AS cu_d, k * 100L AS mb_d,
       |    tot - pfx AS ma_n, (n - k) * 100L AS ma_d
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY abs(d) DESC, k) AS rk
       |    FROM (
       |      SELECT *, n * pfx - k * tot AS d FROM (
       |      SELECT *, SUM(cents) OVER (PARTITION BY event_type) AS tot FROM (
       |      SELECT *, COUNT(1) OVER (PARTITION BY event_type) AS n FROM (
       |      SELECT *, SUM(cents) OVER (PARTITION BY event_type
       |        ORDER BY ts, __oid
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx FROM (
       |      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
       |        ORDER BY ts, __oid) AS BIGINT) AS k FROM (
       |        SELECT event_type, ts, event_id AS __oid,
       |          CAST(round(value * 100) AS BIGINT) AS cents
       |        FROM events
       |      )))))
       |    )
       |  ) WHERE rk = 1
       |)
       |ORDER BY event_type""".stripMargin
  }

  /** SQL texts keyed by their SparkEntry query name — the surface a
    * SQL-only user runs after [[registerViews]].
    */
  val sql: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q23_minhash_lsh" -> q23Sql,
    "q88_bm25" -> q88Sql,
    "q185_rrf_fusion" -> q185Sql,
    "q194_cusum_changepoint" -> q194Sql)

  /** A round body's parse: registers each (name, frame) as a temp
    * view, then parses `text` over them.
    */
  private def sqlOver(s: SparkSession, text: String,
      views: (String, DataFrame)*): DataFrame = {
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    s.sql(text)
  }

  // ----- q161: the connected-components loop, SQL-driven -----------

  /** The canonical (min, max, self-loops dropped, deduplicated)
    * edge set over the raw `cc_und` (src, dst) view — plan-equal to
    * ops.ccCanon + the cold init's distinct (pinned in
    * SqlSurfaceSpec).
    */
  val ccCanonSql: String =
    """SELECT DISTINCT a, b FROM (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM cc_und
      |) WHERE a <> b""".stripMargin

  private val ccNbrSub: String =
    """SELECT a AS u, b AS v FROM cc_edges
      |UNION ALL SELECT b AS u, a AS v FROM cc_edges""".stripMargin

  private val ccLargeSub: String =
    s"""SELECT m AS a, v AS b, (m <> u) AS c FROM (
       |  SELECT u, v, least(MIN(v) OVER (PARTITION BY u), u) AS m
       |  FROM ($ccNbrSub)
       |) WHERE v > u""".stripMargin

  private val ccSmallSub: String =
    s"""SELECT a, b, MIN(a) OVER (PARTITION BY b) AS m,
       |  (MAX(c) OVER (PARTITION BY b)
       |    OR MAX(a) OVER (PARTITION BY b) > MIN(a) OVER (PARTITION BY b)) AS gc
       |FROM ($ccLargeSub)""".stripMargin

  /** One ops.star2Round over the `cc_edges` view: a large-star +
    * small-star alternation with its conservative changed-edge
    * flags — one window pass per phase, then one aggregation, no
    * joins — plan-equal to the DataFrame round (pinned in
    * SqlSurfaceSpec).
    */
  val ccRoundSql: String =
    s"""SELECT sa AS a, sb AS b, chg FROM (
       |  SELECT r.sa AS sa, r.sb AS sb, MAX(r.gc) AS chg FROM (
       |    SELECT explode(array(
       |      named_struct('sa', m, 'sb', a, 'gc', gc, 'keep', a <> m),
       |      named_struct('sa', m, 'sb', b, 'gc', gc, 'keep', true))) AS r
       |    FROM ($ccSmallSub)
       |  ) WHERE r.keep
       |  GROUP BY r.sa, r.sb
       |)""".stripMargin

  /** The SQL alternation body: registers the round's edge set as
    * `cc_edges` and parses [[ccRoundSql]].
    */
  def ccRoundBody(s: SparkSession)(e: DataFrame): DataFrame =
    sqlOver(s, ccRoundSql, "cc_edges" -> e)

  /** q161's loop with SQL bodies: runs ops.star2Core (the one cc
    * driver) from [[ccCanonSql]] with [[ccRoundBody]]. Returns the
    * final (node, lbl) frame and the alternation count.
    *
    * RESERVED VIEW NAMES: the loop owns `cc_und` / `cc_edges` for
    * its duration and drops them on exit (success or failure) — a
    * session view of either name is replaced; two concurrent loops
    * must run in separate sessions (`SparkSession.newSession()`).
    */
  def ccLoopSql(s: SparkSession, dir: String, maxRounds: Int = 50,
      probe: (Int, DataFrame) => Unit = (_, _) => ()): (DataFrame, Int) = {
    val (labels, curve) =
      ccLoopSqlCurve(s, Mining.sparseUnd(s, dir), maxRounds, probe)
    (labels, curve.length)
  }

  /** [[ccLoopSql]] over a caller's undirected (a, b) edge frame,
    * returning the full (round, edges changed) movement curve — what
    * the warm-start consumers ship (the ops.connectedComponentsCurve
    * analog on the SQL surface). `cc_und` renames the caller's frame,
    * so the views are dropped by name only, never the caller's cache.
    */
  def ccLoopSqlCurve(s: SparkSession, und: DataFrame, maxRounds: Int = 50,
      probe: (Int, DataFrame) => Unit = (_, _) => ())
    : (DataFrame, Seq[(Long, Long)]) =
    try {
      val e = und.select(col("a").as("src"), col("b").as("dst"))
      ccLabels(ops.star2Core(sqlOver(s, ccCanonSql, "cc_und" -> e), "cc",
        maxRounds, probe, ccRoundBody(s)))
    } finally {
      Seq("cc_und", "cc_edges")
        .foreach(org.apache.spark.sql.graftbridge.Bridge.dropTempViewOnly(s, _))
    }

  /** star2Core's (id, component) readback renamed to the SQL
    * surface's (node, lbl). */
  private def ccLabels(out: (DataFrame, Seq[(Long, Long)]))
    : (DataFrame, Seq[(Long, Long)]) =
    (out._1.select(col("id").as("node"), col("component").as("lbl")), out._2)

  // ----- q217: the warm-start cc loop, SQL-driven -------------------
  // (the incremental/CDC family's entry on the SQL surface. It runs
  // on ops.ccWarmStart; its bodies are plan-equal-pinned in
  // SqlSurfaceSpec against ops.ccAffected, ops.ccCanon and
  // ops.ccLabelEdges, the round body [[ccRoundSql]] against
  // ops.star2Round.)

  /** The disturbed-component derivation over `cc_prev` / `cc_dels`
    * (src, dst) — plan-equal to ops.ccAffected.
    */
  val ccAffectedSql: String =
    """SELECT DISTINCT component FROM cc_prev
      |JOIN (
      |  SELECT DISTINCT id FROM (
      |    SELECT src AS id FROM cc_dels UNION ALL SELECT dst FROM cc_dels)
      |) USING (id)""".stripMargin

  private val ccNodesSub: String =
    """SELECT DISTINCT id FROM (
      |  SELECT a AS id FROM cc_canon UNION ALL SELECT b AS id FROM cc_canon)""".stripMargin

  /** The warm-start SHORTCUT edges over `cc_canon` / `cc_prev` /
    * `cc_aff`: one (component, id) edge per kept label of an
    * undisturbed component, nothing for disturbed components or
    * fresh nodes — plan-equal to ops.ccLabelEdges (pinned in
    * SqlSurfaceSpec).
    */
  val ccLabelEdgesSql: String =
    s"""SELECT /*+ BROADCAST(af) */ component AS a, id AS b
       |FROM ($ccNodesSub)
       |JOIN cc_prev USING (id)
       |LEFT JOIN (SELECT component, 1L AS __aff FROM cc_aff) af
       |  USING (component)
       |WHERE __aff IS NULL AND component <> id""".stripMargin

  /** The canonical edges over the raw `cc_und` (src, dst) view,
    * self-loops dropped and NOT deduplicated — plan-equal to
    * ops.ccCanon, the warm start's `canon` body (the init union
    * deduplicates).
    */
  val ccCanonRawSql: String =
    """SELECT a, b FROM (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM cc_und
      |) WHERE a <> b""".stripMargin

  /** q217's warm-start loop with SQL bodies: previous fixpoint labels
    * + new edges + the changelog's deleted edges in, (labels,
    * movement curve) out. Runs ops.ccWarmStart (the one warm-start
    * driver: shortcut-edge contract, stale-label guard, loop and
    * releases) with [[ccAffectedSql]], [[ccCanonRawSql]],
    * [[ccLabelEdgesSql]] and [[ccRoundBody]] as its bodies.
    *
    * RESERVED VIEW NAMES: owns `cc_und` / `cc_prev` / `cc_dels` /
    * `cc_aff` / `cc_canon` / `cc_edges` for the loop's duration,
    * dropped on exit — see [[ccLoopSql]]'s contract.
    */
  def ccWarmLoopSqlOn(s: SparkSession, prevLabels: DataFrame,
      edges: DataFrame, deletedEdges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50): (DataFrame, Seq[(Long, Long)]) = {
    def srcDst(e: DataFrame): DataFrame =
      e.select(col(src).as("src"), col(dst).as("dst"))
    val bodies = ops.CcWarmBodies(
      affected = (prev, dels) =>
        sqlOver(s, ccAffectedSql, "cc_prev" -> prev, "cc_dels" -> srcDst(dels)),
      canon = e => sqlOver(s, ccCanonRawSql, "cc_und" -> srcDst(e)),
      labelEdges = (canon, prev, aff) => sqlOver(s, ccLabelEdgesSql,
        "cc_canon" -> canon, "cc_prev" -> prev, "cc_aff" -> aff),
      round = ccRoundBody(s))
    // the views expose the caller's frames (`cc_prev`) or rename them
    // (`cc_und`, `cc_dels`): drop the names only, never the caller's
    // caches
    try ccLabels(ops.ccWarmStart(prevLabels, edges, deletedEdges,
      maxRounds, (_, _) => (), bodies))
    finally {
      Seq("cc_und", "cc_prev", "cc_dels", "cc_aff", "cc_canon", "cc_edges")
        .foreach(org.apache.spark.sql.graftbridge.Bridge.dropTempViewOnly(s, _))
    }
  }

  /** q161's output shape over the SQL-driven loop: a lazy census over
    * the labels checkpoint, as the DataFrame q161 returns (release it
    * with graft.Ck.release after its last reader). The analyzed plan
    * holds the labels, so the view name can go at once.
    */
  def q161ComponentsSql(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) = ccLoopSql(s, dir)
    labels.createOrReplaceTempView("cc_final")
    try s.sql(
      """SELECT lbl AS cluster, COUNT(1) AS n_nodes, MAX(node) AS max_node
        |FROM cc_final GROUP BY lbl ORDER BY cluster""".stripMargin)
    finally org.apache.spark.sql.graftbridge.Bridge.dropTempViewOnly(s, "cc_final")
  }

  /** q217's output shape over the SQL-driven loops: cold fixpoint
    * ([[ccLoopSqlCurve]]), q217's deterministic changelog, warm
    * fixpoint ([[ccWarmLoopSqlOn]]), census + both movement curves —
    * row-equal to the DataFrame q217 (pinned in SqlSurfaceSpec).
    */
  def q217IncrementalCcSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    // held frames must not outlive a failed stage (round-11 advice:
    // the loops release internally on a tripped guard, so the
    // composition must match that discipline on ITS exit paths) —
    // releases are idempotent, so the success path's eager releases
    // below coexist with the finally's sweep. One persisted base
    // graph serves the cold loop and the changelog, as in q217.
    val und0 = Mining.sparseUnd(s, dir).persist(MEMORY_AND_DISK)
    val dels = und0.filter((col("a") * 7L + col("b") * 11L) % 61L === 0L)
    val und1 = und0.join(dels, Seq("a", "b"), "left_anti")
      .unionByName(Mining.undFamily(s, dir, 37L, 512L))
      .distinct()
      .persist(MEMORY_AND_DISK)
    var lab0Opt: Option[DataFrame] = None
    var lab1Opt: Option[DataFrame] = None
    try {
      graft.Tables.touch(und0)
      val (lab0, curve0) = ccLoopSqlCurve(s, und0)
      lab0Opt = Some(lab0)
      graft.Tables.touch(und1)
      val (lab1, curve1) = ccWarmLoopSqlOn(s,
        lab0.select(col("node").as("id"), col("lbl").as("component")),
        und1, dels, "a", "b")
      lab1Opt = Some(lab1)
      graft.Ck.release(lab0) // warm init checkpointed; base labels consumed
      und0.unpersist(blocking = false)
      lab1.createOrReplaceTempView("cc_warm_final")
      // the analyzed census holds lab1, so the view name can go at
      // once; the output checkpoint below is its one materialization
      val census =
        try s.sql(
          """SELECT 'comp' AS part, lbl AS k, CAST(COUNT(1) AS BIGINT) AS v1,
            |  MAX(node) AS v2 FROM cc_warm_final GROUP BY lbl""".stripMargin)
        finally org.apache.spark.sql.graftbridge.Bridge.dropTempViewOnly(
          s, "cc_warm_final")
      val c0 = curve0.toDF("k", "v1")
        .select(lit("round0").as("part"), col("k"), col("v1"), lit(0L).as("v2"))
      val c1 = curve1.toDF("k", "v1")
        .select(lit("round1").as("part"), col("k"), col("v1"), lit(0L).as("v2"))
      census.unionByName(c0).unionByName(c1).orderBy("part", "k")
        .localCheckpoint(true)
    } finally {
      lab0Opt.foreach(graft.Ck.release)
      lab1Opt.foreach(graft.Ck.release)
      und0.unpersist(blocking = false)
      und1.unpersist(blocking = false)
    }
  }

  // ----- q218: the warm-start dedup day, SQL-driven -----------------
  // (the CDC dedup family's entry on the SQL surface: every stage of
  // the day — cold base labeling, delta-restricted candidates, star
  // compression, the warm fixpoint, the survivor anti-join — is a
  // Spark SQL text or the SQL-driven cc loop, composed row-equal to
  // the DataFrame q218. The cold pair text is q23Sql's own body
  // (ndPairsSql, plan-equal-pinned through q23); the delta and
  // takedown pair texts reuse its band-key derivation per view.)

  private def ndShSub(view: String): String =
    s"SELECT doc_id, word_shingles(text, 3) AS sh FROM $view"

  private def ndBandsSub(view: String): String =
    s"""SELECT doc_id, bk.band_idx AS band_idx, bk.band_key AS band_key
       |FROM (
       |  SELECT doc_id, explode($bandArray) AS bk
       |  FROM (SELECT doc_id, minhash_sig(text) AS msig FROM $view)
       |)""".stripMargin

  /** Verified near-dup pairs (i, j, jaccard), i < j, 3-shingle
    * Jaccard >= 0.5, over one doc view: ops.nearDupPairs' bucket body
    * in SQL text (plan-equal to it through q23, pinned in
    * SqlSurfaceSpec) — each band bucket grouped once with its members'
    * text, the pairs formed and verified inside it. q23's pipeline and
    * the cold base pair graph of the warm dedup day.
    */
  def ndPairsSql(view: String): String =
    s"""SELECT DISTINCT i, j, jaccard FROM (
       |  SELECT least(a.id, b.id) AS i, greatest(a.id, b.id) AS j,
       |    CAST(array_intersect_size(a.sh, b.sh) AS DOUBLE) /
       |    CAST(array_union_size(a.sh, b.sh) AS DOUBLE) AS jaccard
       |  FROM (
       |    SELECT a, explode(slice(ms, k + 2, size(ms) - k - 1)) AS b
       |    FROM (
       |      SELECT ms, posexplode(slice(ms, 1, size(ms) - 1)) AS (k, a)
       |      FROM (
       |        SELECT transform(ms,
       |          m -> named_struct('id', m.id, 'sh', word_shingles(m.text, 3))) AS ms
       |        FROM (
       |          SELECT collect_list(named_struct('id', __id, 'text', __t)) AS ms
       |          FROM (
       |            SELECT __id, __t, bk.band_idx AS band_idx, bk.band_key AS band_key
       |            FROM (
       |              SELECT __id, __t, explode($bandArray) AS bk
       |              FROM (SELECT doc_id AS __id, text AS __t, minhash_sig(text) AS msig
       |                    FROM $view WHERE text IS NOT NULL)
       |            )
       |          )
       |          GROUP BY band_idx, band_key
       |        )
       |        WHERE size(ms) > 1
       |      )
       |    )
       |  )
       |) WHERE i < j AND jaccard >= 0.5""".stripMargin

  /** The DELTA pairs an inserts-only changelog introduces: candidates
    * only from band buckets a NEW doc touches (new-side bands against
    * old ∪ new bands), verified against the union corpus — the SQL
    * text of ops.incrementalNearDupPairs' cold-verify shape
    * (row-equality pinned in SqlSurfaceSpec).
    */
  def ndDeltaPairsSql(baseView: String, deltaView: String,
      unionView: String): String =
    s"""SELECT i, j FROM (
       |  SELECT i, j,
       |    CAST(array_intersect_size(sha, shb) AS DOUBLE) /
       |    CAST(array_union_size(sha, shb) AS DOUBLE) AS jac
       |  FROM (
       |    SELECT DISTINCT least(a.doc_id, b.doc_id) AS i,
       |      greatest(a.doc_id, b.doc_id) AS j
       |    FROM (${ndBandsSub(deltaView)}) a
       |    JOIN (SELECT * FROM (${ndBandsSub(baseView)})
       |          UNION ALL SELECT * FROM (${ndBandsSub(deltaView)})) b
       |      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |     AND a.doc_id <> b.doc_id
       |  )
       |  JOIN (SELECT doc_id AS i, sh AS sha FROM (${ndShSub(unionView)})) USING (i)
       |  JOIN (SELECT doc_id AS j, sh AS shb FROM (${ndShSub(unionView)})) USING (j)
       |) WHERE jac >= 0.5""".stripMargin

  /** The disturbed-component list over `nd_prev` / `nd_dels` —
    * interpolated per use site (the no-CTE rule).
    */
  private val ndAffSub: String =
    """SELECT DISTINCT component FROM nd_prev
      |JOIN (SELECT doc_id AS id FROM nd_dels) USING (id)""".stripMargin

  /** Surviving members of disturbed components — the re-verify set
    * (a still-valid old pair has BOTH endpoints here, because a pair
    * implies same old component).
    */
  private val ndAffSurvSub: String =
    s"""SELECT id AS doc_id FROM nd_prev
       |WHERE component IN ($ndAffSub)
       |  AND id NOT IN (SELECT doc_id FROM nd_dels)""".stripMargin

  /** The TAKEDOWN-day pair set over the `nd_surv` (surviving old) /
    * `nd_delta` (inserts) / `nd_survu` (surviving union) / `nd_prev`
    * / `nd_dels` views: pairs re-derived WITHIN disturbed components
    * (band self-join on disturbed-survivor rows) plus insert pairs
    * from buckets a new doc touches against the surviving corpus,
    * verified in one pass — the SQL text of
    * ops.takedownNearDupPairs' cold-verify shape.
    */
  def ndTakedownPairsSql: String = {
    val affBands =
      s"""SELECT * FROM (${ndBandsSub("nd_surv")})
         |WHERE doc_id IN ($ndAffSurvSub)""".stripMargin
    s"""SELECT i, j FROM (
       |  SELECT i, j,
       |    CAST(array_intersect_size(sha, shb) AS DOUBLE) /
       |    CAST(array_union_size(sha, shb) AS DOUBLE) AS jac
       |  FROM (
       |    SELECT DISTINCT i, j FROM (
       |      SELECT a.doc_id AS i, b.doc_id AS j
       |      FROM ($affBands) a JOIN ($affBands) b
       |        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |       AND a.doc_id < b.doc_id
       |      UNION ALL
       |      SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
       |      FROM (${ndBandsSub("nd_delta")}) a
       |      JOIN (SELECT * FROM (${ndBandsSub("nd_surv")})
       |            UNION ALL SELECT * FROM (${ndBandsSub("nd_delta")})) b
       |        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |       AND a.doc_id <> b.doc_id
       |    )
       |  )
       |  JOIN (SELECT doc_id AS i, sh AS sha FROM (${ndShSub("nd_survu")})) USING (i)
       |  JOIN (SELECT doc_id AS j, sh AS shb FROM (${ndShSub("nd_survu")})) USING (j)
       |) WHERE jac >= 0.5""".stripMargin
  }

  /** q219's output shape with every stage SQL-driven — the takedown
    * half of the CDC day: disturbed components re-derive their pairs
    * and re-seed in the warm fixpoint (the deleted docs enter
    * [[ccWarmLoopSqlOn]] as self-edge deletions, exactly the
    * DataFrame path's contract), undisturbed components carry
    * forward as star edges, inserts pair against the surviving
    * corpus. Row-equal to the DataFrame q219 (pinned in
    * SqlSurfaceSpec) — disturbed census, component census, kept
    * accounting, and BOTH movement curves.
    */
  /** RESERVED VIEW NAMES: owns `nd_base` / `nd_delta` / `nd_union` /
    * `nd_prev` / `nd_dels` / `nd_surv` / `nd_survu` / `nd_final`
    * (plus [[ccWarmLoopSqlOn]]'s cc_* set) for the call's duration,
    * dropped on exit — see [[ccLoopSql]]'s contract.
    */
  /** Drives the SQL takedown day over caller-registered `nd_base` /
    * `nd_delta` views: cold labels via the identity-init warm loop,
    * the deterministic changelog views (`nd_prev` / `nd_dels` /
    * `nd_surv` / `nd_survu`), and the warm fixpoint. Returns
    * (lab0, curve0, lab1, curve1); the registered views stay live
    * for the caller's census stage (the caller owns the drops).
    * Shared by [[q219TakedownDedupSql]] and [[corpusDaySql]] so the
    * composed day drives the IDENTICAL dedup machinery.
    */
  private def takedownDaySqlCore(s: SparkSession)
    : (DataFrame, Seq[(Long, Long)], DataFrame, Seq[(Long, Long)]) = {
    val sess = s
    import sess.implicits._
    val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "component")
    val emptyDels = Seq.empty[(Long, Long)].toDF("i", "j")
    val (lab0, curve0) = ccWarmLoopSqlOn(s, emptyLabels,
      s.sql(s"SELECT i, j FROM (${ndPairsSql("nd_base")})"), emptyDels, "i", "j")
    lab0.select(col("node").as("id"), col("lbl").as("component"))
      .createOrReplaceTempView("nd_prev")
    // the changelog: takedowns drawn from the labeled dup subset
    s.sql("SELECT id AS doc_id FROM nd_prev WHERE id % 3 = 0")
      .createOrReplaceTempView("nd_dels")
    s.sql("""SELECT * FROM nd_base
            |WHERE doc_id NOT IN (SELECT doc_id FROM nd_dels)""".stripMargin)
      .createOrReplaceTempView("nd_surv")
    s.sql("SELECT * FROM nd_surv UNION ALL SELECT * FROM nd_delta")
      .createOrReplaceTempView("nd_survu")
    // warm edge set: undisturbed star carry + the takedown-day pairs
    val edges1 = s.sql(
      s"""SELECT DISTINCT i, j FROM (
         |  SELECT component AS i, id AS j FROM nd_prev
         |  WHERE id <> component AND component NOT IN ($ndAffSub)
         |  UNION ALL
         |  $ndTakedownPairsSql
         |)""".stripMargin)
    // deleted docs as self-edge deletions: the warm loop's affected
    // set becomes exactly the disturbed components
    val delEdges = s.sql("SELECT doc_id AS i, doc_id AS j FROM nd_dels")
    val (lab1, curve1) = ccWarmLoopSqlOn(s,
      s.sql("SELECT id, component FROM nd_prev"), edges1, delEdges,
      "i", "j")
    (lab0, curve0, lab1, curve1)
  }

  def q219TakedownDedupSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    val docs = graft.Tables.documents(s, dir).persist(MEMORY_AND_DISK)
    graft.Tables.touch(docs)
    try {
      docs.filter(col("doc_id") % 8 =!= 0).createOrReplaceTempView("nd_base")
      docs.filter(col("doc_id") % 8 === 0).createOrReplaceTempView("nd_delta")
      val (lab0, curve0, lab1, curve1) = takedownDaySqlCore(s)
      lab1.createOrReplaceTempView("nd_final")
      val parts =
        try s.sql(
          s"""SELECT 'comp' AS part, lbl AS k, CAST(COUNT(1) AS BIGINT) AS v1,
             |  MAX(node) AS v2 FROM nd_final GROUP BY lbl
             |UNION ALL
             |SELECT 'aff', CAST(0 AS BIGINT),
             |  (SELECT CAST(COUNT(1) AS BIGINT) FROM ($ndAffSub)),
             |  (SELECT CAST(COUNT(1) AS BIGINT) FROM ($ndAffSurvSub))
             |UNION ALL
             |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(1) AS BIGINT),
             |  CAST(SUM(doc_id) AS BIGINT)
             |FROM nd_survu LEFT ANTI JOIN
             |  (SELECT node AS doc_id FROM nd_final WHERE node <> lbl)
             |  USING (doc_id)""".stripMargin)
          .localCheckpoint(true) // materialize before the views drop
        finally s.catalog.dropTempView("nd_final")
      graft.Ck.release(lab0)
      graft.Ck.release(lab1)
      val c0 = curve0.toDF("k", "v1")
        .select(lit("round0").as("part"), col("k"), col("v1"),
          lit(0L).as("v2"))
      val c1 = curve1.toDF("k", "v1")
        .select(lit("round1").as("part"), col("k"), col("v1"),
          lit(0L).as("v2"))
      val out = parts.unionByName(c0).unionByName(c1).orderBy("part", "k")
        .localCheckpoint(true)
      graft.Ck.release(parts)
      out
    } finally {
      docs.unpersist(blocking = false)
      Seq("nd_base", "nd_delta", "nd_prev", "nd_dels", "nd_surv", "nd_survu")
        .foreach(s.catalog.dropTempView)
    }
  }

  /** q218's output shape with every stage SQL-driven: cold base
    * labels via the identity-init warm loop (empty previous labels =
    * the cold init, so one loop serves both phases), star-compressed
    * carry + delta pairs as the warm edge set, the warm fixpoint via
    * [[ccWarmLoopSqlOn]], survivors by one anti-join text. Row-equal
    * to the DataFrame q218 (pinned in SqlSurfaceSpec) — census, kept
    * accounting, and BOTH movement curves.
    */
  /** RESERVED VIEW NAMES: owns `nd_base` / `nd_delta` / `nd_union` /
    * `nd_prev` / `nd_final` (plus [[ccWarmLoopSqlOn]]'s cc_* set) for
    * the call's duration, dropped on exit — see [[ccLoopSql]]'s
    * contract.
    */
  def q218WarmDedupSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    val docs = graft.Tables.documents(s, dir).persist(MEMORY_AND_DISK)
    graft.Tables.touch(docs)
    try {
      docs.filter(col("doc_id") % 8 =!= 0).createOrReplaceTempView("nd_base")
      docs.filter(col("doc_id") % 8 === 0).createOrReplaceTempView("nd_delta")
      docs.createOrReplaceTempView("nd_union")
      val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "component")
      val emptyDels = Seq.empty[(Long, Long)].toDF("i", "j")
      // phase 0: the cold fixpoint = the warm loop from an empty
      // previous labeling (every node seeds to identity)
      val (lab0, curve0) = ccWarmLoopSqlOn(s, emptyLabels,
        s.sql(s"SELECT i, j FROM (${ndPairsSql("nd_base")})"), emptyDels, "i", "j")
      lab0.select(col("node").as("id"), col("lbl").as("component"))
        .createOrReplaceTempView("nd_prev")
      // warm edge set: yesterday's graph star-compressed + the delta
      // pairs (inserts-only: no deleted edges, no re-seeds)
      val edges1 = s.sql(
        s"""SELECT DISTINCT i, j FROM (
           |  SELECT component AS i, id AS j FROM nd_prev
           |  WHERE id <> component
           |  UNION ALL
           |  ${ndDeltaPairsSql("nd_base", "nd_delta", "nd_union")}
           |)""".stripMargin)
      val (lab1, curve1) = ccWarmLoopSqlOn(s,
        s.sql("SELECT id, component FROM nd_prev"), edges1, emptyDels,
        "i", "j")
      graft.Ck.release(lab0) // the warm loop's views are materialized
      lab1.createOrReplaceTempView("nd_final")
      val parts =
        try s.sql(
          """SELECT 'comp' AS part, lbl AS k, CAST(COUNT(1) AS BIGINT) AS v1,
            |  MAX(node) AS v2 FROM nd_final GROUP BY lbl
            |UNION ALL
            |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(1) AS BIGINT),
            |  CAST(SUM(doc_id) AS BIGINT)
            |FROM nd_union LEFT ANTI JOIN
            |  (SELECT node AS doc_id FROM nd_final WHERE node <> lbl)
            |  USING (doc_id)""".stripMargin)
          .localCheckpoint(true) // materialize before the views drop
        finally s.catalog.dropTempView("nd_final")
      graft.Ck.release(lab1)
      val c0 = curve0.toDF("k", "v1")
        .select(lit("round0").as("part"), col("k"), col("v1"),
          lit(0L).as("v2"))
      val c1 = curve1.toDF("k", "v1")
        .select(lit("round1").as("part"), col("k"), col("v1"),
          lit(0L).as("v2"))
      val out = parts.unionByName(c0).unionByName(c1).orderBy("part", "k")
        .localCheckpoint(true)
      graft.Ck.release(parts)
      out
    } finally {
      docs.unpersist(blocking = false)
      Seq("nd_base", "nd_delta", "nd_union", "nd_prev")
        .foreach(s.catalog.dropTempView)
    }
  }

  // ----- q221: the composed day, SQL-driven -------------------------

  /** The COMPOSED day-N maintenance job on the SQL surface (round-11
    * verdict item 7): q221's one-call job with every stage a Spark
    * SQL text — the dedup day via [[takedownDaySqlCore]] (identical
    * machinery to q219's SQL form), tomorrow's band-table census via
    * the per-doc band text over the surviving union (per-doc purity:
    * yesterday's-filtered + today's-appended equals
    * recomputed-from-survivors as a SET, so the census is the same),
    * exact decontamination via the registered `word_shingles`, and
    * the frozen-index delta IVF assignment via builtin
    * zip_with + the registered `array_dot`. Row-equal to
    * SparkEntry's q221_corpus_day (pinned in SqlSurfaceSpec).
    */
  /** RESERVED VIEW NAMES: q219's nd_* set plus `nd_eval` / `nd_kept`
    * / `nd_vb` / `nd_vd` / `nd_cent` (and [[ccWarmLoopSqlOn]]'s cc_*
    * set), dropped on exit — see [[ccLoopSql]]'s contract.
    */
  def corpusDaySql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    val docs = graft.Tables.documents(s, dir).persist(MEMORY_AND_DISK)
    graft.Tables.touch(docs)
    try {
      docs.filter(col("doc_id") % 8 =!= 0).createOrReplaceTempView("nd_base")
      docs.filter(col("doc_id") % 8 === 0).createOrReplaceTempView("nd_delta")
      val (lab0, curve0, lab1, curve1) = takedownDaySqlCore(s)
      try {
        lab1.createOrReplaceTempView("nd_final")
        docs.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id"), col("text"))
          .createOrReplaceTempView("nd_eval")
        s.sql(
          """SELECT doc_id, text FROM nd_survu
            |LEFT ANTI JOIN (SELECT node AS doc_id FROM nd_final
            |                WHERE node <> lbl) USING (doc_id)""".stripMargin)
          .createOrReplaceTempView("nd_kept")
        val embs = graft.Tables.embeddings(s, dir)
        embs.filter(col("vec_id") % 10 =!= 0).createOrReplaceTempView("nd_vb")
        embs.filter(col("vec_id") % 10 === 0).createOrReplaceTempView("nd_vd")
        // q220's frozen index as a SQL text (ops' labelCentroidsOf
        // twin: per-label 4dp mean centroids of the base vectors);
        // tiny (k x 64 doubles) — checkpointed once, read per assign
        val cent = s.sql(
          """SELECT label,
            |  transform(array_sort(collect_list(struct(d, m))),
            |    p -> round(p.m, 4)) AS c
            |FROM (
            |  SELECT label, d, avg(x) AS m FROM (
            |    SELECT label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (d, x)
            |    FROM nd_vb
            |  ) GROUP BY label, d
            |) GROUP BY label""".stripMargin)
          .localCheckpoint(true)
        cent.createOrReplaceTempView("nd_cent")
        val diff = "zip_with(CAST(v.embedding AS ARRAY<DOUBLE>), c.c, (x, y) -> x - y)"
        val parts =
          try s.sql(
            s"""WITH kh AS (
               |  SELECT k.doc_id, CAST(COUNT(1) AS BIGINT) AS n
               |  FROM (SELECT doc_id, explode(word_shingles(text, 5)) AS sg
               |        FROM nd_kept) k
               |  JOIN (SELECT DISTINCT explode(word_shingles(text, 5)) AS sg
               |        FROM nd_eval) e ON k.sg = e.sg
               |  GROUP BY k.doc_id
               |)
               |SELECT 'comp' AS part, lbl AS k, CAST(COUNT(1) AS BIGINT) AS v1,
               |  MAX(node) AS v2 FROM nd_final GROUP BY lbl
               |UNION ALL
               |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(1) AS BIGINT),
               |  CAST(SUM(doc_id) AS BIGINT) FROM nd_kept
               |UNION ALL
               |SELECT 'bands', CAST(0 AS BIGINT), CAST(COUNT(1) AS BIGINT),
               |  CAST(COUNT(DISTINCT concat_ws('#', band_idx, band_key)) AS BIGINT)
               |FROM (${ndBandsSub("nd_survu")})
               |UNION ALL
               |SELECT 'decon', CAST(0 AS BIGINT),
               |  (SELECT CAST(COUNT(1) AS BIGINT) FROM nd_kept)
               |    - (SELECT CAST(COUNT(1) AS BIGINT) FROM kh),
               |  coalesce((SELECT CAST(SUM(n) AS BIGINT) FROM kh), CAST(0 AS BIGINT))
               |UNION ALL
               |SELECT 'ivf', CAST(cell AS BIGINT), CAST(COUNT(1) AS BIGINT),
               |  CAST(SUM(CAST(round(d2 * 1e6, 0) AS BIGINT)) AS BIGINT)
               |FROM (
               |  SELECT vec_id, cell, d2 FROM (
               |    SELECT vec_id, label AS cell, d2,
               |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
               |    FROM (
               |      SELECT v.vec_id, c.label,
               |        round(array_dot($diff, $diff), 6) AS d2
               |      FROM nd_vd v CROSS JOIN nd_cent c)
               |  ) WHERE rn = 1
               |) GROUP BY cell""".stripMargin)
            .localCheckpoint(true) // materialize before the views drop
          finally {
            graft.Ck.release(cent)
            Seq("nd_final", "nd_eval", "nd_kept", "nd_vb", "nd_vd", "nd_cent")
              .foreach(s.catalog.dropTempView)
          }
        graft.Ck.release(lab0)
        graft.Ck.release(lab1)
        val c0 = curve0.toDF("k", "v1")
          .select(lit("round0").as("part"), col("k"), col("v1"),
            lit(0L).as("v2"))
        val c1 = curve1.toDF("k", "v1")
          .select(lit("round1").as("part"), col("k"), col("v1"),
            lit(0L).as("v2"))
        val out = parts.unionByName(c0).unionByName(c1).orderBy("part", "k")
          .localCheckpoint(true)
        graft.Ck.release(parts)
        out
      } finally {
        // held frames must not outlive a failed census stage
        graft.Ck.release(lab0)
        graft.Ck.release(lab1)
      }
    } finally {
      docs.unpersist(blocking = false)
      Seq("nd_base", "nd_delta", "nd_prev", "nd_dels", "nd_surv", "nd_survu")
        .foreach(s.catalog.dropTempView)
    }
  }

  // ----- q175: the PageRank loop, SQL-driven -----------------------

  /** One Curation.prRound over the `pr_edeg` / `pr_ranks` /
    * `pr_ranks_b` views (the rank vector twice: `pr_ranks_b` is its
    * size-gated broadcast side, registered by [[prRoundBody]]):
    * contribution exchange + node-sized left join, plan-equal to the
    * DataFrame round (pinned in SqlSurfaceSpec).
    */
  val prRoundSql: String =
    """SELECT id, pr, abs(pr - old) AS mv
      |FROM (
      |  SELECT id, 150000000L + (85L * coalesce(sc, 0L)) div 100L AS pr, old
      |  FROM (SELECT id, pr AS old FROM pr_ranks)
      |  LEFT JOIN (
      |    SELECT dst, SUM(c) AS sc
      |    FROM (
      |      SELECT dst, pr div outdeg AS c
      |      FROM pr_edeg JOIN pr_ranks_b ON src = id
      |    )
      |    GROUP BY dst
      |  ) ON id = dst
      |)""".stripMargin

  /** The SQL PageRank round body: registers the round's inputs as
    * the views [[prRoundSql]] reads (the broadcast side through
    * Loop.broadcastIfFits, as Curation.prRound) and parses it. The
    * caller drops the views once the loop is done: dropping
    * `pr_edeg` earlier would uncache the persisted edge frame.
    */
  def prRoundBody(s: SparkSession)(edeg: DataFrame, pr: DataFrame): DataFrame = {
    edeg.createOrReplaceTempView("pr_edeg")
    pr.createOrReplaceTempView("pr_ranks")
    graft.Loop.broadcastIfFits(pr).createOrReplaceTempView("pr_ranks_b")
    s.sql(prRoundSql)
  }

  /** q175's integer-PageRank loop with the SQL round body: runs
    * Curation.prLoop (the one PageRank driver) with [[prRoundBody]].
    * Returns (final ranks, movement curve, rounds).
    */
  /** RESERVED VIEW NAMES: owns `pr_edeg` / `pr_ranks` / `pr_ranks_b`
    * for the loop's duration, dropped on exit — see [[ccLoopSql]]'s
    * contract.
    */
  def prLoopSql(s: SparkSession, dir: String)
    : (DataFrame, Seq[(Long, Long)], Int) = {
    val (pr, curve) =
      try Curation.prLoop(s, dir, round = prRoundBody(s))
      finally Seq("pr_edeg", "pr_ranks", "pr_ranks_b").foreach(s.catalog.dropTempView)
    (pr, curve, curve.length)
  }

  // ----- q181: the k-core peel loop, SQL-driven --------------------

  /** One induced-degree round over the `kc_nbrs` / `kc_alive` views:
    * an edge survives iff BOTH endpoints survive — plan-equal to
    * Mining.kcoreInduced (pinned in SqlSurfaceSpec). `kc_alive` is
    * registered size-gated by [[kcInducedBody]].
    */
  val kcInducedSql: String =
    """SELECT e.node, COUNT(1) AS deg
      |FROM kc_nbrs e
      |JOIN kc_alive c1 ON e.node = c1.node
      |JOIN kc_alive c2 ON e.nbr = c2.node
      |GROUP BY e.node""".stripMargin

  /** The SQL k-core round body: registers the neighbour list and the
    * survivor set (through Loop.broadcastIfFits, as
    * Mining.kcoreInduced) as the views [[kcInducedSql]] reads and
    * parses it. The caller drops the views once the peel is done:
    * dropping `kc_nbrs` earlier would uncache the persisted list.
    */
  def kcInducedBody(s: SparkSession)(nbrs: DataFrame, alive: DataFrame): DataFrame = {
    nbrs.createOrReplaceTempView("kc_nbrs")
    graft.Loop.broadcastIfFits(alive).createOrReplaceTempView("kc_alive")
    s.sql(kcInducedSql)
  }

  /** q181's peel with the SQL round body: runs Mining.kcorePeel (the
    * one k-core driver) with [[kcInducedBody]]. Returns the final
    * core's induced degree table and the round count (the
    * stable-detection round included, q175's counting rule).
    */
  /** RESERVED VIEW NAMES: owns `kc_nbrs` / `kc_alive` for the loop's
    * duration, dropped on exit — see [[ccLoopSql]]'s contract.
    */
  def kcoreLoopSql(s: SparkSession, dir: String, k: Int = 2,
      maxRounds: Int = 40): (DataFrame, Int) =
    try Mining.kcorePeel(Mining.sparseUnd(s, dir), k, maxRounds,
      induced = kcInducedBody(s))
    finally Seq("kc_nbrs", "kc_alive").foreach(s.catalog.dropTempView)

  // ----- q196: the HITS loop, SQL-driven ---------------------------
  // (the directed-graph family's entry on the SQL surface. It runs on
  // Curation.hitsScores; the half-step body is plan-equal-pinned in
  // SqlSurfaceSpec.)

  /** The raw half of one HITS half-step over the `hits_nodes` /
    * `hits_edges` / `hits_scores` views — plan-equal to
    * Curation.hitsRawFrame. `hits_scores` is registered size-gated by
    * [[hitsRawBody]].
    */
  def hitsRawSql(key: String, out: String): String =
    s"""SELECT id, coalesce(raw, 0L) AS raw
       |FROM hits_nodes
       |LEFT JOIN (
       |  SELECT $out, SUM(os) AS raw
       |  FROM hits_edges
       |  JOIN (SELECT id AS $key, score AS os FROM hits_scores) sc
       |    USING ($key)
       |  GROUP BY $out
       |) ON id = $out""".stripMargin

  /** The SQL half-step body: registers the node set as `hits_nodes`,
    * the oriented edge copy it is handed as `hits_edges` and the
    * score vector (through Loop.broadcastIfFits, as
    * Curation.hitsRawFrame) as `hits_scores`, and parses
    * [[hitsRawSql]]. The caller drops the views once the driver
    * returns: dropping `hits_edges` earlier would uncache the edge
    * copy it names.
    */
  def hitsRawBody(s: SparkSession)(nodes: DataFrame, edges: DataFrame,
      scores: DataFrame, key: String, out: String): DataFrame =
    sqlOver(s, hitsRawSql(key, out), "hits_nodes" -> nodes,
      "hits_edges" -> edges, "hits_scores" -> graft.Loop.broadcastIfFits(scores))

  /** HITS with the SQL half-step body: runs Curation.hitsScores (the
    * one HITS driver) with [[hitsRawBody]] over a caller-persisted
    * distinct (src, dst) edge frame without self-loops. Returns the
    * final (authority, hub) score frames, both checkpointed (caller
    * releases).
    *
    * RESERVED VIEW NAMES: owns `hits_nodes` / `hits_edges` /
    * `hits_scores` for the loop's duration, dropped on exit — see
    * [[ccLoopSql]]'s contract.
    */
  def hitsLoopSqlOn(s: SparkSession, edges: DataFrame): (DataFrame, DataFrame) =
    try Curation.hitsScores(edges, raw = hitsRawBody(s))
    finally Seq("hits_nodes", "hits_edges", "hits_scores").foreach(s.catalog.dropTempView)

  /** q196's 4-round mutual power iteration on the SQL surface:
    * [[hitsLoopSqlOn]] over q196's persisted edges.
    */
  def hitsLoopSql(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = Curation.hitsEdges(s, dir).persist(MEMORY_AND_DISK)
    graft.Tables.touch(edges)
    try hitsLoopSqlOn(s, edges) finally edges.unpersist(blocking = false)
  }

  /** q196's 20-row output shape over the SQL-driven loop. */
  def q196HitsSql(s: SparkSession, dir: String): DataFrame = {
    val (a, h) = hitsLoopSql(s, dir)
    a.createOrReplaceTempView("hits_a_final")
    h.createOrReplaceTempView("hits_h_final")
    val out =
      try s.sql(
        """SELECT part, k, node, score FROM (
          |  SELECT 'auth' AS part,
          |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS BIGINT) AS k,
          |    id AS node, score
          |  FROM hits_a_final
          |  UNION ALL
          |  SELECT 'hub',
          |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS BIGINT),
          |    id, score
          |  FROM hits_h_final
          |) WHERE k <= 10 ORDER BY part, k""".stripMargin)
        .localCheckpoint(true) // materialize before the views drop
      finally {
        s.catalog.dropTempView("hits_a_final")
        s.catalog.dropTempView("hits_h_final")
      }
    graft.Ck.release(a)
    graft.Ck.release(h)
    out
  }

  // ----- q199: the SCC loop, SQL-driven ----------------------------
  // (the directed family's second loop on the SQL surface — round-8
  // verdict item 5. Round bodies are plan-equal-pinned in
  // SqlSurfaceSpec against the factored production bodies
  // Mining.sccTrimKeep / sccColorInit / sccColorRound /
  // sccCollectGrow / sccBackRound; sccLoopSqlOn runs them on
  // Mining.sccAssign, the one SCC driver, so trim fixpoint,
  // hash-scrambled forward coloring, hybrid backward collect, Loop
  // riders, checkpoint hygiene and guards are that driver's.)

  /** Live induced-subgraph edges over `scc_edges` / `scc_cur` —
    * interpolated per use site (twice in the trim body), the
    * no-CTE rule.
    */
  val sccCurESql: String =
    """SELECT * FROM scc_edges
      |JOIN (SELECT id AS src FROM scc_cur) USING (src)
      |JOIN (SELECT id AS dst FROM scc_cur) USING (dst)""".stripMargin

  /** One trim pass — plan-equal to Mining.sccTrimKeep. */
  val sccTrimKeepSql: String =
    s"""SELECT id FROM (
       |  SELECT id, MAX(o) AS ho, MAX(i) AS hi FROM (
       |    SELECT src AS id, 1L AS o, 0L AS i FROM ($sccCurESql)
       |    UNION ALL
       |    SELECT dst AS id, 0L AS o, 1L AS i FROM ($sccCurESql)
       |  ) GROUP BY id
       |) WHERE ho = 1L AND hi = 1L""".stripMargin

  /** The hash-scrambled color init over `scc_cur` — plan-equal to
    * Mining.sccColorInit.
    */
  val sccColorInitSql: String =
    """SELECT id, ord, ord AS clr FROM (
      |  SELECT id,
      |    CAST(conv(substring(md5(CAST(id AS STRING)), 1, 7), 16, 10) AS BIGINT)
      |      * 34359738368L + id AS ord
      |  FROM scc_cur)""".stripMargin

  private val sccC1Sub: String =
    """SELECT id, ord, clr AS old, greatest(clr, coalesce(mc, clr)) AS c1
      |FROM scc_color LEFT JOIN (
      |  SELECT dst, MAX(sclr) AS mc
      |  FROM scc_ce JOIN (SELECT id AS src, clr AS sclr FROM scc_color)
      |    USING (src)
      |  GROUP BY dst
      |) ON id = dst""".stripMargin

  // ----- q222: SemDeDup on the SQL surface --------------------------
  // (the vectors family's entry: the cell-blocked semantic pair
  // stage as a SQL text over the production-assigned frame, the one
  // cc driver with the SQL round body as the component solve, and a
  // SQL census — plan-equal pair body, row-equal output vs the
  // DataFrame q222.)

  /** The cell-blocked semantic pair stage over `sem_av` (__id, __e
    * normalized, cell) — plan-equal to ops.semDedupPairs at q222's
    * τ = 0.35. `array_dot` is the registered native codegen
    * expression, so the SQL user's quadratic stage runs the same
    * compiled dot product as the Scala API's.
    */
  val semDedupPairsSql: String =
    """SELECT a.__id AS __i, b.__id AS __j, a.cell
      |FROM sem_av a JOIN sem_av b
      |  ON a.cell = b.cell AND a.__id < b.__id
      |WHERE round(array_dot(a.__e, b.__e), 4) >= 0.35""".stripMargin

  /** q222's census through the SQL surface: the production
    * assignment frame registered as `sem_av`, [[semDedupPairsSql]],
    * ops.star2Core with [[ccRoundBody]] as the component solve, and
    * a SQL census — row-equal to the DataFrame q222_semdedup.
    * RESERVED VIEW NAMES: owns `sem_av` / `sem_pairs` / `sem_lbl`
    * (plus the round body's `cc_edges`) for the call's duration,
    * dropped on exit.
    */
  def q222SemDedupSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val av = graft.api.ops.semDedupAssigned(
      graft.Tables.embeddings(s, dir),
      graft.queries.Vectors.semCodebook(s, dir),
      "vec_id", "embedding").persist(MEMORY_AND_DISK)
    graft.Tables.touch(av)
    // tracked for the finally path: if the body throws after these
    // eager checkpoints exist (e.g. the cc fixpoint's maxRounds
    // require fires), they must not leak for the session (round-12
    // advice). Ck.release is idempotent, so the success path's
    // releases and the finally's overlap harmlessly. The cc init
    // is checkpointed and released by the fixpoint on both exits; `lbl` walks to the fixpoint's final
    // checkpoint.
    var pairs: org.apache.spark.sql.DataFrame = null
    var lbl: org.apache.spark.sql.DataFrame = null
    try {
      av.createOrReplaceTempView("sem_av")
      pairs = org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
        s.sql(semDedupPairsSql).localCheckpoint(true))
      pairs.createOrReplaceTempView("sem_pairs")
      lbl = ops.star2Core(s.sql("SELECT __i AS a, __j AS b FROM sem_pairs"),
        "cc", 50, (_, _) => (), ccRoundBody(s))._1
      lbl.createOrReplaceTempView("sem_lbl")
      val census = s.sql(
        """WITH dup AS (
          |  SELECT l.id, l.component, a.cell FROM sem_lbl l
          |  JOIN (SELECT __id AS id, cell FROM sem_av) a USING (id)
          |), cellall AS (
          |  SELECT cell, count(*) AS n_vecs, sum(__id) AS __sid
          |  FROM sem_av GROUP BY cell
          |), cellpairs AS (
          |  SELECT cell, count(*) AS n_pairs FROM sem_pairs GROUP BY cell
          |), celldup AS (
          |  SELECT cell, count(*) AS n_dup_vecs,
          |    count(DISTINCT component) AS n_components,
          |    count(CASE WHEN id <> component THEN 1 END) AS n_removed,
          |    sum(CASE WHEN id <> component THEN id ELSE 0 END) AS __rsum
          |  FROM dup GROUP BY cell
          |)
          |SELECT c.cell, c.n_vecs,
          |  coalesce(p.n_pairs, 0) AS n_pairs,
          |  coalesce(d.n_dup_vecs, 0) AS n_dup_vecs,
          |  coalesce(d.n_components, 0) AS n_components,
          |  coalesce(d.n_removed, 0) AS n_removed,
          |  c.__sid - coalesce(d.__rsum, 0) AS kept_id_sum
          |FROM cellall c
          |LEFT JOIN cellpairs p USING (cell)
          |LEFT JOIN celldup d USING (cell)
          |ORDER BY cell""".stripMargin).localCheckpoint(true)
      graft.Ck.release(lbl) // walks to the fixpoint's final checkpoint
      graft.Ck.release(pairs)
      census
    } finally {
      Seq("sem_av", "sem_pairs", "sem_lbl", "cc_edges")
        .foreach(v => if (s.catalog.tableExists(v)) s.catalog.dropTempView(v))
      av.unpersist(blocking = false)
      // exception path: the eager pairs/lbl checkpoints exist once
      // assigned above; without these releases a mid-body throw
      // (e.g. the cc fixpoint's maxRounds require) leaks them for
      // the session. Idempotent, so they overlap the success path's
      // releases harmlessly (round-13 advice).
      if (pairs != null) graft.Ck.release(pairs)
      if (lbl != null) graft.Ck.release(lbl)
    }
  }

  /** One forward max-color round (neighbor-max + pointer jump) over
    * `scc_ce` / `scc_color` — plan-equal to Mining.sccColorRound.
    */
  val sccColorRoundSql: String =
    s"""SELECT a.id, a.ord, a.old, greatest(a.c1, b.tl) AS clr
       |FROM ($sccC1Sub) a
       |JOIN (SELECT ord AS t, c1 AS tl FROM ($sccC1Sub)) b ON a.c1 = b.t""".stripMargin

  /** One backward-collect frontier step over `scc_ce` / `scc_color`
    * / `scc_members` — plan-equal to Mining.sccCollectGrow.
    */
  val sccCollectGrowSql: String =
    """SELECT id, clr FROM (
      |  SELECT id, clr, mclr FROM (
      |    SELECT DISTINCT src AS id, mclr
      |    FROM scc_ce JOIN (SELECT id AS dst, clr AS mclr FROM scc_members)
      |      USING (dst)
      |  ) JOIN (SELECT id, clr FROM scc_color) USING (id)
      |  WHERE clr = mclr
      |) LEFT ANTI JOIN scc_members USING (id)""".stripMargin

  /** The color-class-internal edge set over `scc_ce` / `scc_color`
    * (the doubled fixpoint's input, as SqlSurfaceSpec builds it). */
  val sccSameESql: String =
    """SELECT src, dst FROM (
      |  SELECT * FROM scc_ce
      |  JOIN (SELECT id AS src, clr AS sc FROM scc_color) USING (src)
      |  JOIN (SELECT id AS dst, clr AS dc FROM scc_color) USING (dst)
      |) WHERE sc = dc""".stripMargin

  private val sccB1Sub: String =
    """SELECT id, ord, b AS old, greatest(b, coalesce(mb, b)) AS b1
      |FROM scc_back LEFT JOIN (
      |  SELECT src, MAX(db) AS mb
      |  FROM scc_same JOIN (SELECT id AS dst, b AS db FROM scc_back)
      |    USING (dst)
      |  GROUP BY src
      |) ON id = src""".stripMargin

  private val sccJ1Sub: String =
    s"""SELECT a.id, a.ord, a.old, greatest(a.b1, b.tb) AS b2
       |FROM ($sccB1Sub) a
       |JOIN (SELECT ord AS t, b1 AS tb FROM ($sccB1Sub)) b ON a.b1 = b.t""".stripMargin

  /** One doubled-fixpoint round of the giant-SCC backward collect —
    * plan-equal to Mining.sccBackRound (round-12: the fresh pointer
    * jump composed with one stale jump through the previous round's
    * checkpoint, see that scaladoc).
    */
  val sccBackRoundSql: String =
    s"""SELECT a.id, a.ord, a.old, greatest(a.b2, b.tb2) AS b
       |FROM ($sccJ1Sub) a
       |JOIN (SELECT ord AS t2, b AS tb2 FROM scc_back) b ON a.b2 = b.t2""".stripMargin

  /** q199's SCC loop with every round body a `spark.sql` text: the
    * SQL bodies above, run by Mining.sccAssign — the one SCC driver
    * (trim-to-fixpoint peel, forward max-coloring, hybrid
    * one-step/doubled backward collect with the per-class freeze,
    * min-member-id assignment, Loop riders, Ck hygiene, guards and
    * LoopStats). Each body registers its inputs under the `scc_*`
    * names its text reads and parses the text; the driver hands it
    * the same frames it hands the DataFrame bodies, so the SQL
    * surface runs the same jobs as q199. Takes a caller-persisted
    * canonical directed edge frame; returns the (id, scc) labels and
    * the outer round count.
    *
    * RESERVED VIEW NAMES: owns `scc_edges` / `scc_cur` / `scc_ce` /
    * `scc_color` / `scc_members` / `scc_same` / `scc_back` for the
    * loop's duration, dropped on exit — see [[ccLoopSql]]'s contract.
    */
  def sccLoopSqlOn(s: SparkSession, edges: DataFrame,
      maxOuter: Int = 30): (DataFrame, Int) = {
    val bodies = Mining.SccBodies(
      trimKeep = (e, cur) =>
        sqlOver(s, sccTrimKeepSql, "scc_edges" -> e, "scc_cur" -> cur),
      colorInit = cur => sqlOver(s, sccColorInitSql, "scc_cur" -> cur),
      colorRound = (ce, color) =>
        sqlOver(s, sccColorRoundSql, "scc_ce" -> ce, "scc_color" -> color),
      collectGrow = (ce, color, members) =>
        sqlOver(s, sccCollectGrowSql, "scc_ce" -> ce, "scc_color" -> color,
          "scc_members" -> members),
      backRound = (same, back) =>
        sqlOver(s, sccBackRoundSql, "scc_same" -> same, "scc_back" -> back))
    // `scc_edges` exposes the caller's edge cache: drop the names
    // only, never the caches behind them
    try Mining.sccAssign(edges, maxOuter, bodies)
    finally {
      Seq("scc_edges", "scc_cur", "scc_ce", "scc_color", "scc_members",
        "scc_same", "scc_back")
        .foreach(org.apache.spark.sql.graftbridge.Bridge.dropTempViewOnly(s, _))
    }
  }

  /** q199's output shape over the SQL-driven loop (one dirEdges
    * derivation serves the loop and the intra-edge census, the
    * q199Scc discipline).
    */
  def q199SccSql(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = Mining.dirEdges(s, dir).persist(MEMORY_AND_DISK)
    graft.Tables.touch(edges)
    val (labels, _) = sccLoopSqlOn(s, edges)
    labels.createOrReplaceTempView("scc_final")
    edges.createOrReplaceTempView("scc_eout")
    val out =
      try s.sql(
        """SELECT scc, n_nodes, coalesce(n_intra, 0L) AS n_intra FROM (
          |  SELECT scc, COUNT(1) AS n_nodes FROM scc_final GROUP BY scc
          |) LEFT JOIN (
          |  SELECT ssc AS scc, COUNT(1) AS n_intra FROM (
          |    SELECT * FROM scc_eout
          |    JOIN (SELECT id AS src, scc AS ssc FROM scc_final) USING (src)
          |    JOIN (SELECT id AS dst, scc AS dsc FROM scc_final) USING (dst)
          |  ) WHERE ssc = dsc GROUP BY ssc
          |) USING (scc)
          |ORDER BY scc""".stripMargin)
        .localCheckpoint(true) // materialize before the views drop
      finally {
        s.catalog.dropTempView("scc_final")
        s.catalog.dropTempView("scc_eout")
      }
    graft.Ck.release(labels)
    edges.unpersist(blocking = false)
    out
  }

  // ----- q224: margin mining on the SQL surface ---------------------
  // (the ANN/mining family's entry, round-16 verdict item 6: the
  // band/bucket dedup texts existed but the vector-mining side had
  // no SQL twin. One self-contained text — the corpus-scaled plane
  // ladder runs as scalar COUNT(*) subqueries, so the SQL user gets
  // the same auto-blocking as ops.marginMine without a Scala call.)

  /** The full CSLS / ratio-margin mutual-NN miner (q224) as one
    * SQL text over the registered `embeddings` view — row-equal to
    * the DataFrame form (pinned in SqlSurfaceSpec; plan equality is
    * out of reach because the DataFrame resolves the plane count to
    * a literal via two Scala-side counts, while SQL carries it as a
    * scalar subquery). `array_dot` is the registered native codegen
    * expression marginMine itself uses, and the normalize→dot→
    * 4-dp-snap float path is transliterated operation-for-operation,
    * so agreement is exact, not approximate. The plane ladder and
    * bucket terms mirror ops.autoPlanes / ops.marginMine: smallest
    * p in [MarginBasePlanes, MarginMaxPlanes] with
    * n ≤ MarginTargetBucket·2^p over the larger parity side, each
    * term gated on its index (integer comparisons only — see the
    * autoPlanes scaladoc for why float log2 is banned).
    */
  def q224MarginSql: String = {
    import graft.api.ops.{MarginBasePlanes, MarginMaxPlanes, MarginTargetBucket}
    // CAST each literal: Spark SQL parses bare decimal literals as
    // DECIMAL (unlike DuckDB), and array_dot requires array<double>
    def planeArr(p: Int): String =
      (0 until 64)
        .map(d => s"CAST(${graft.queries.Vectors.planeVal(p, d)} AS DOUBLE)")
        .mkString("ARRAY(", ", ", ")")
    val ladder = (MarginBasePlanes until MarginMaxPlanes)
      .map(p => s"WHEN n <= ${MarginTargetBucket << p} THEN $p")
      .mkString("CASE ", " ", s" ELSE $MarginMaxPlanes END")
    val terms = (0 until MarginMaxPlanes).map { p =>
      s"(CASE WHEN $p < pl.planes AND array_dot(v, ${planeArr(p)}) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH pl AS (
       |  SELECT $ladder AS planes FROM (
       |    SELECT GREATEST(
       |      (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 0),
       |      (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 1)) AS n)
       |), norm AS (
       |  SELECT vec_id, transform(e, x -> x / sqrt(array_dot(e, e))) AS v FROM (
       |    SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e FROM embeddings)
       |), sa AS (
       |  SELECT vec_id AS a_id, v AS ae, $terms AS bucket
       |  FROM norm, pl WHERE vec_id % 2 = 0
       |), sb AS (
       |  SELECT vec_id AS b_id, v AS be, $terms AS bucket
       |  FROM norm, pl WHERE vec_id % 2 = 1
       |), cand AS (
       |  SELECT * FROM (
       |    SELECT a_id, b_id,
       |      CAST(ROUND(array_dot(ae, be) * 10000, 0) AS BIGINT) AS c_e4
       |    FROM sa JOIN sb USING (bucket)
       |  ) WHERE c_e4 > 0
       |), ka AS (
       |  SELECT a_id, SUM(c_e4) AS sum_a, COUNT(*) AS n_a FROM (
       |    SELECT a_id, c_e4,
       |      row_number() OVER (PARTITION BY a_id ORDER BY c_e4 DESC, b_id) AS rk
       |    FROM cand
       |  ) WHERE rk <= 4 GROUP BY a_id
       |), kb AS (
       |  SELECT b_id, SUM(c_e4) AS sum_b, COUNT(*) AS n_b FROM (
       |    SELECT b_id, c_e4,
       |      row_number() OVER (PARTITION BY b_id ORDER BY c_e4 DESC, a_id) AS rk
       |    FROM cand
       |  ) WHERE rk <= 4 GROUP BY b_id
       |), m AS (
       |  SELECT * FROM (
       |    SELECT c.a_id, c.b_id, c.c_e4,
       |      (2000 * c.c_e4 * ka.n_a * kb.n_b)
       |        div (ka.sum_a * kb.n_b + kb.sum_b * ka.n_a) AS margin_e3
       |    FROM cand c JOIN ka USING (a_id) JOIN kb USING (b_id)
       |  ) WHERE margin_e3 >= 1200
       |), ba AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY a_id ORDER BY margin_e3 DESC, b_id) AS ra
       |  FROM m
       |), bb AS (
       |  SELECT a_id, b_id,
       |    row_number() OVER (PARTITION BY b_id ORDER BY margin_e3 DESC, a_id) AS rb
       |  FROM m
       |)
       |SELECT ba.a_id AS src_id, ba.b_id AS dst_id, ba.c_e4, ba.margin_e3
       |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
       |WHERE ba.ra = 1 AND bb.rb = 1
       |ORDER BY src_id""".stripMargin
  }

  /** q181's output shape over the SQL-driven loop. */
  def q181KcoreSql(s: SparkSession, dir: String): DataFrame = {
    val (coreDeg, rounds) = kcoreLoopSql(s, dir)
    coreDeg.createOrReplaceTempView("kc_final")
    val out =
      try s.sql(
        s"""SELECT deg AS core_degree, COUNT(1) AS n_nodes,
           |  MIN(node) AS min_node, CAST($rounds AS BIGINT) AS rounds
           |FROM kc_final GROUP BY deg ORDER BY core_degree""".stripMargin)
        .localCheckpoint(true) // materialize before the view drops
      finally s.catalog.dropTempView("kc_final")
    graft.Ck.release(coreDeg) // the census above was its last reader
    out
  }
}
