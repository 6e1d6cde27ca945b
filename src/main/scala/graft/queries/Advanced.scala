package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.queries.Hashing._

/** Second-wave operator surface (q51-q59): Bloom pre-pass join,
  * sketch-gated approximate quantiles, cube/grouping sets, pivot,
  * ranking-window suite, stratified corpus sampling, near-dup cluster
  * APPLICATION (the removal step), n-gram frequency top-k, and PII
  * scrubbing — each with a DuckDB oracle.
  */
object Advanced {

  // ---------------------------------------------------------------
  // q51: Bloom-filter pre-pass semi join — the 100-TB existence-filter
  // pattern: build a compact Bloom filter from the small side
  // (BUILDING customers), drop non-matching orders before the exact
  // semi join touches them; the exact join then removes the Bloom's
  // false positives, so the OUTPUT is exactly the plain semi join the
  // oracle computes. Runs through the graft SQL function surface
  // (bloom_build / bloom_might_contain as a scalar subquery) — at
  // scale the filter is a few MB broadcast to every scan task, and
  // only the ~1/5 of orders that pass it reach the shuffle.
  // ---------------------------------------------------------------
  def q51BloomSemi(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    orders(s, dir).createOrReplaceTempView("g_orders")
    customer(s, dir).createOrReplaceTempView("g_customer")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM g_orders
        |WHERE bloom_might_contain(
        |    (SELECT bloom_build(xxhash64(c_custkey), 10000L)
        |     FROM g_customer WHERE c_mktsegment = 'BUILDING'),
        |    xxhash64(o_custkey))
        |  AND o_custkey IN
        |    (SELECT c_custkey FROM g_customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val q51Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE o_custkey IN
      |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------
  // q52: approximate quantiles, gated q36-style: the sketch values
  // (GK in Spark, t-digest in DuckDB) are engine-specific, so each
  // engine asserts its OWN estimate lands within 2% of its exact
  // interpolated quantile — deterministic integer flags, hash-
  // comparable, while exercising the one-pass bounded-memory
  // quantile path that replaces a full sort at 100 TB.
  // ---------------------------------------------------------------
  def q52ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    def ok(p: Double, name: String) = {
      val exact = percentile(col("l_extendedprice"), lit(p))
      val approx = percentile_approx(col("l_extendedprice"), lit(p), lit(10000))
      (abs(approx - exact) <= exact * 0.02).cast("int").as(name)
    }
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        ok(0.5, "p50_ok"), ok(0.9, "p90_ok"), ok(0.99, "p99_ok"))
      .orderBy("l_returnflag")
  }

  val q52Sql: String = {
    def ok(p: Double, name: String) =
      s"""CAST(abs(approx_quantile(l_extendedprice, $p) -
         |  quantile_cont(l_extendedprice, $p)) <=
         |  0.02 * quantile_cont(l_extendedprice, $p) AS INT) AS $name""".stripMargin
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${ok(0.5, "p50_ok")},
       |  ${ok(0.9, "p90_ok")},
       |  ${ok(0.99, "p99_ok")}
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // ---------------------------------------------------------------
  // q53: CUBE over (returnflag, linestatus) with grouping_id — all
  // four aggregation levels in ONE pass (Spark expands the grouping
  // sets before the shuffle; partial aggregation still applies).
  // Bit order of grouping_id (first column = MSB) matches DuckDB's
  // GROUPING(). Measures in exact integer cents.
  // ---------------------------------------------------------------
  def q53Cube(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_quantity") * 100).cast("long")
    lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), cents.as("cents"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), sum(col("cents")).as("qty_cents"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("n"), col("qty_cents"))
      .orderBy("gid", "rflag", "lstatus")
  }

  val q53Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |  coalesce(l_linestatus, 'ALL') AS lstatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, rflag, lstatus""".stripMargin

  // ---------------------------------------------------------------
  // q54: pivot — long-to-wide reshape (one output column per order
  // status). Spark plans it as a single conditional aggregation, the
  // exact shape the oracle spells out with CASE WHEN.
  // ---------------------------------------------------------------
  def q54Pivot(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("o_orderpriority")

  val q54Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------
  // q55: ranking-window suite — rank / ntile / percent_rank /
  // cume_dist in one window pass (one shuffle by segment). The order
  // key includes c_custkey so ties are impossible and both engines'
  // rational-arithmetic outputs are bit-identical doubles.
  // ---------------------------------------------------------------
  def q55RankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        rank().over(w).as("rnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("c_custkey")
  }

  val q55Sql: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(rank() OVER w AS INT) AS rnk,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q56: STRATIFIED deterministic sampling — per-language target
  // rates (downsample the dominant language, keep more of the rare
  // ones: the corpus-balancing step of a training-data pipeline),
  // driven by the same content-hash as q47 so the sample is exactly
  // reproducible in both engines and across reruns. Pure map + one
  // aggregation; no per-stratum pass.
  // ---------------------------------------------------------------
  private val strataThresholds: Seq[(String, Long)] = Seq(
    "en" -> (1L << 28) / 10, // 10%: dominant language, downsample hard
    "zh" -> (1L << 28) / 4, // 25%
    "de" -> (1L << 28) / 2, // 50%
    "es" -> (1L << 28) / 2,
    "fr" -> (1L << 28) / 2)

  def q56StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val th = strataThresholds.foldLeft(lit(0L)) { case (acc, (l, t)) =>
      when(col("lang") === l, lit(t)).otherwise(acc)
    }
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(hash28(col("text")) < th, 1)).as("n_kept"))
      .withColumn("rate", Relational.ratio4(col("n_kept"), col("n_docs")))
      .orderBy("lang")
  }

  val q56Sql: String = {
    val cases = strataThresholds
      .map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN ${sqlHash28("text")} < (CASE lang $cases ELSE 0 END)
       |        THEN 1 END) AS n_kept,
       |  ((20000*COUNT(CASE WHEN ${sqlHash28("text")} < (CASE lang $cases ELSE 0 END)
       |                THEN 1 END) + COUNT(*)) // (2*COUNT(*))) / 10000.0 AS rate
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q57: near-dup cluster APPLICATION — the step the detection
  // pipeline exists for: drop every non-canonical cluster member
  // (left-anti join against the q48 labels) and report the kept
  // corpus. At 100 TB the removal set is tiny (near-dups only) and
  // broadcastable; the corpus is touched once.
  // ---------------------------------------------------------------
  def q57DedupApply(s: SparkSession, dir: String): DataFrame = {
    val removed = Dedup.q48DedupClusters(s, dir)
      .filter(col("is_canonical") === 0)
      .select(col("doc_id"))
    documents(s, dir)
      .join(broadcast(removed), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("lang")
  }

  val q57Sql: String =
    s"""WITH RECURSIVE ${Dedup.closureCtes},
       |clusters AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster,
       |    CASE WHEN a = MIN(b) THEN 1 ELSE 0 END AS is_canonical
       |  FROM reach GROUP BY a
       |)
       |SELECT d.lang AS lang, COUNT(*) AS n_kept,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       |  MIN(d.doc_id) AS min_doc_id
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE is_canonical = 0)
       |GROUP BY d.lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q58: n-gram frequency top-k — the language-model-ish corpus
  // statistic: most frequent word bigrams per language. Explode →
  // partial-aggregated count → per-group top-k window (ties broken
  // on the bigram text so both engines rank identically).
  // ---------------------------------------------------------------
  def q58BigramTopk(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", get(ws, i), get(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    val cnt = documents(s, dir)
      .select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    // top-3 via the NATIVE heap operator: the shuffle after the count
    // carries <= k rows per (partition, lang) instead of window-sorting
    // the whole per-language vocabulary; the trailing row_number runs
    // over <= 15 rows
    val top = graft.plans.ops.topKPerGroup(cnt,
      groupCols = Seq(col("lang")),
      orderCols = Seq(col("n").desc, col("bigram")),
      k = 3)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("lang"), col("rnk"), col("bigram"), col("n"))
      .orderBy("lang", "rnk")
  }

  val q58Sql: String =
    """WITH bg AS (
      |  SELECT lang, unnest(list_transform(range(len(string_split(text,' '))-1),
      |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS bigram
      |  FROM documents
      |), cnt AS (
      |  SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram
      |), ranked AS (
      |  SELECT lang, bigram, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
      |  FROM cnt
      |)
      |SELECT lang, CAST(rnk AS INT) AS rnk, bigram, n
      |FROM ranked WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------
  // q59: PII-style scrubbing — redact digit runs from the event
  // payloads and report redaction stats plus the count of distinct
  // redacted templates (the dedup-after-scrub shape). Pure regex
  // Column expressions; one aggregation.
  // ---------------------------------------------------------------
  def q59PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val runs = size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
    val scrubbed = regexp_replace(col("props"), "[0-9]+", "#")
    events(s, dir)
      .select(col("event_type"), col("props"), runs.as("runs"),
        (length(col("props")) - length(regexp_replace(col("props"), "[0-9]+", "")))
          .as("digits"),
        scrubbed.as("template"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("runs") > 0, 1)).as("n_with_digits"),
        sum(col("runs")).cast("long").as("n_runs"),
        sum(col("digits")).cast("long").as("n_digits"),
        countDistinct(col("template")).as("n_templates"))
      .orderBy("event_type")
  }

  val q59Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(CASE WHEN len(regexp_extract_all(props, '[0-9]+')) > 0 THEN 1 END)
      |    AS n_with_digits,
      |  CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_runs,
      |  CAST(SUM(len(props) - len(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT)
      |    AS n_digits,
      |  COUNT(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g')) AS n_templates
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q60: the SAME as-of semantics as q37, through the NATIVE
  // AsOfJoin operator (graft.plans: custom logical node + strategy +
  // merge-sweep physical operator) instead of the union+window form —
  // each non-purchase event enriched with the latest strictly-prior
  // purchase value of its user. Two co-partitioned exchanges and one
  // linear sweep; gated against the identical oracle as q37.
  // Honest local[32]/sf0.1 note: the window form wins here (~0.3 vs
  // ~0.8 s) — it shuffles the union once while the native op pays two
  // exchanges. The native shape pays off when the right side is much
  // smaller than the left or rows are wide: the window form carries
  // EVERY left column through the union and window state, the native
  // op only its payload.
  // ---------------------------------------------------------------
  def q60AsofNative(s: SparkSession, dir: String): DataFrame = {
    val l = events(s, dir).filter(col("event_type") =!= "purchase")
    val r = events(s, dir).filter(col("event_type") === "purchase")
    graft.plans.ops.asofJoin(l, r,
        leftKeys = Seq(l("user_id")), rightKeys = Seq(r("user_id")),
        leftTime = l("event_id"), rightTime = r("event_id"),
        payload = Seq((r("value"), "setting_raw")), strict = true)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        round(col("setting_raw"), 4).as("asof_setting"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------
  // q61: eval-set DECONTAMINATION — the benchmark-leakage check every
  // training-data pipeline runs: flag training documents sharing
  // word 5-grams with a held-out eval split (here: doc_id % 97 == 0).
  // Scale shape: the eval n-gram set is tiny relative to the corpus
  // (benchmarks are thousands of docs, the corpus is billions), so it
  // is distinct-ed and BROADCAST — the corpus side is a pure
  // map+explode scan into a broadcast-hash join, no corpus shuffle;
  // the only shuffles are the per-doc hit count and per-source
  // rollup, both map-side combined. A doc is contaminated at >= 3
  // distinct shared 5-grams.
  // ---------------------------------------------------------------
  def q61Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % 97 === 0
    val docs = documents(s, dir)
    val evalGrams = docs.filter(isEval)
      .select(explode(shingles(col("text"), 5)).as("sg"))
      .select(hash28(col("sg")).as("g"))
      .distinct()
    val trainGrams = docs.filter(!isEval)
      .select(col("doc_id"), explode(shingles(col("text"), 5)).as("sg"))
      .select(col("doc_id"), hash28(col("sg")).as("g"))
    val hits = trainGrams.join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    docs.filter(!isEval).select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        count(when(col("n_overlap") >= 3, 1)).as("n_contaminated"),
        sum(col("n_overlap")).cast("long").as("total_overlap"))
      .withColumn("contam_rate",
        Relational.ratio4(col("n_contaminated"), col("n_train")))
      .orderBy("source")
  }

  val q61Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, source, ${sqlShingles(5)} AS sh FROM documents
       |), eg AS (
       |  SELECT DISTINCT ${sqlHash28("s.sg")} AS g
       |  FROM sh, unnest(sh.sh) s(sg) WHERE doc_id % 97 = 0
       |), tg AS (
       |  SELECT doc_id, ${sqlHash28("s.sg")} AS g
       |  FROM sh, unnest(sh.sh) s(sg) WHERE doc_id % 97 <> 0
       |), hits AS (
       |  SELECT doc_id, COUNT(*) AS n_overlap
       |  FROM tg JOIN eg USING (g) GROUP BY doc_id
       |), t AS (
       |  SELECT d.doc_id, d.source, coalesce(h.n_overlap, 0) AS n_overlap
       |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |  WHERE d.doc_id % 97 <> 0
       |)
       |SELECT source, COUNT(*) AS n_train,
       |  COUNT(CASE WHEN n_overlap >= 3 THEN 1 END) AS n_contaminated,
       |  CAST(SUM(n_overlap) AS BIGINT) AS total_overlap,
       |  ((20000*COUNT(CASE WHEN n_overlap >= 3 THEN 1 END) + COUNT(*))
       |   // (2*COUNT(*))) / 10000.0 AS contam_rate
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q62: SEQUENCE PACKING — concatenate-then-chunk documents into
  // fixed token-budget training sequences (the GPT-style pack step).
  // Docs are packed within (lang, shard) where shard = doc_id % 8:
  // a single global cumulative sum per language would serialize into
  // one window task per language at 100 TB, while sharding keeps the
  // prefix-sum windows parallel (shards x langs tasks) at the cost of
  // at most one partially-filled trailing sequence per shard. A doc's
  // sequence is where its first token lands (floor(start / budget));
  // the per-sequence and per-lang rollups are plain aggregations.
  // ---------------------------------------------------------------
  private val PackBudget = 512L
  private val PackShards = 8L

  def q62PackSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % PackShards).as("shard"),
        size(words(col("text"))).cast("long").as("tok"))
    val seqs = toks
      .withColumn("seq_id",
        Relational.ldiv(sum(col("tok")).over(w) - col("tok"), lit(PackBudget)))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("docs_in_seq"), sum(col("tok")).as("seq_tokens"))
    seqs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("docs_in_seq")).cast("long").as("n_docs"),
        sum(col("seq_tokens")).cast("long").as("n_tokens"),
        max(col("docs_in_seq")).cast("long").as("max_docs_per_seq"))
      .withColumn("fill_rate",
        Relational.ratio4(col("n_tokens"), col("n_seqs") * PackBudget))
      .orderBy("lang")
  }

  val q62Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
       |    len(string_split(text,' ')) AS tok
       |  FROM documents
       |), seqed AS (
       |  SELECT lang, shard, tok,
       |    (SUM(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |                    ROWS UNBOUNDED PRECEDING) - tok) // $PackBudget AS seq_id
       |  FROM toks
       |), seqs AS (
       |  SELECT lang, shard, seq_id, COUNT(*) AS docs_in_seq,
       |    SUM(tok) AS seq_tokens
       |  FROM seqed GROUP BY lang, shard, seq_id
       |)
       |SELECT lang, COUNT(*) AS n_seqs,
       |  CAST(SUM(docs_in_seq) AS BIGINT) AS n_docs,
       |  CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
       |  CAST(MAX(docs_in_seq) AS BIGINT) AS max_docs_per_seq,
       |  ((20000*CAST(SUM(seq_tokens) AS BIGINT) + COUNT(*)*$PackBudget)
       |   // (2*COUNT(*)*$PackBudget)) / 10000.0 AS fill_rate
       |FROM seqs GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q68: the SAME interval-pair semantics as q43, through the NATIVE
  // RangeJoin operator (co-partitioned sliding-window sweep) instead
  // of the bucket-replication form — per user, pairs of events within
  // 5 minutes. The exchanges carry each side once (no 3x bucket
  // replication); gated against the identical oracle as q43.
  // ---------------------------------------------------------------
  def q68RangeNative(s: SparkSession, dir: String): DataFrame = {
    val winUs = 5L * 60 * 1000000
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    graft.plans.ops.rangeJoin(ev, ev,
        leftKeys = Seq(ev("user_id")), rightKeys = Seq(ev("user_id")),
        leftTime = ev("us"), rightTime = ev("us"),
        lower = -winUs, upper = winUs,
        payload = Seq((ev("event_id"), "event_id_b")))
      .filter(col("event_id") < col("event_id_b"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // q69: CORRELATED scalar subqueries — orders priced above 1.5x
  // their customer's average, the classic shape Catalyst decorrelates
  // into an aggregate + join (no per-row re-execution). The
  // comparison is pure int64 (2*cents*cnt > 3*sum_cents), so both
  // engines agree exactly with no float-average boundary.
  // ---------------------------------------------------------------
  def q69CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("g_orders")
    s.sql(q69Body("g_orders"))
  }

  private def q69Body(t: String): String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_above,
       |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents_above
       |FROM $t o
       |WHERE 2 * CAST(round(o.o_totalprice*100) AS BIGINT) *
       |      (SELECT COUNT(*) FROM $t o2
       |       WHERE o2.o_custkey = o.o_custkey)
       |    > 3 * (SELECT CAST(SUM(CAST(round(o3.o_totalprice*100) AS BIGINT)) AS BIGINT)
       |           FROM $t o3 WHERE o3.o_custkey = o.o_custkey)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val q69Sql: String = q69Body("orders")

  // ---------------------------------------------------------------
  // q70: LATERAL join — each nation's single latest-priced order via
  // a dependent subquery with ORDER BY/LIMIT 1 (the per-group top-1
  // as a LATERAL, planned as a decorrelated window/aggregate rather
  // than a per-row loop). Identical SQL runs on both engines.
  // ---------------------------------------------------------------
  def q70Lateral(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir).createOrReplaceTempView("g_customer")
    orders(s, dir).createOrReplaceTempView("g_orders")
    s.sql(q70Body("g_customer", "g_orders"))
  }

  private def q70Body(cust: String, ord: String): String =
    s"""SELECT c.c_nationkey AS nationkey, t.o_orderkey, t.cents
       |FROM (SELECT DISTINCT c_nationkey FROM $cust) c,
       |LATERAL (
       |  SELECT o.o_orderkey,
       |    CAST(round(o.o_totalprice*100) AS BIGINT) AS cents
       |  FROM $ord o JOIN $cust c2 ON o.o_custkey = c2.c_custkey
       |  WHERE c2.c_nationkey = c.c_nationkey
       |  ORDER BY cents DESC, o.o_orderkey LIMIT 1
       |) t
       |ORDER BY nationkey""".stripMargin

  val q70Sql: String = q70Body("customer", "orders")

  // ---------------------------------------------------------------
  // q103: MAP-typed column pipeline — build a per-user behavior
  // profile as a native MapType column (map_from_entries), then run
  // the map function family over it: aggregate() folds the values to
  // a total, transform_values rescales each entry to an exact
  // per-10000 share, map_filter keeps the hot entries, and
  // map_entries + sort_array + array_join serialize the result
  // canonically (sorted by key) so the map's undefined internal order
  // never leaks into the output. The oracle builds the same profile
  // string relationally (DuckDB has no first-class map pipeline) —
  // pinning that the map-functions form is semantically just a
  // per-key fold, kept in ONE row-level pipeline with no second
  // shuffle after the (user, type) aggregate.
  // ---------------------------------------------------------------
  def q103MapProfile(s: SparkSession, dir: String): DataFrame = {
    val c = events(s, dir).groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    c.groupBy(col("user_id"))
      .agg(map_from_entries(
        collect_list(struct(col("event_type"), col("cnt")))).as("m"))
      .withColumn("total",
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x))
      .withColumn("shares",
        transform_values(col("m"),
          (_, v) => graft.queries.Relational.ldiv(lit(10000L) * v, col("total"))))
      .withColumn("hot", map_filter(col("shares"), (_, v) => v >= 1000L))
      .select(col("user_id"), size(col("m")).cast("long").as("n_types"),
        col("total"),
        array_join(transform(sort_array(map_entries(col("hot"))),
          e => concat(e.getField("key"), lit("="),
            e.getField("value").cast("string"))), ",").as("profile"))
      .orderBy("user_id")
  }

  val q103Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY user_id, event_type
      |), t AS (
      |  SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS total,
      |    COUNT(*) AS n_types
      |  FROM c GROUP BY user_id
      |), s AS (
      |  SELECT c.user_id, c.event_type,
      |    CAST((10000*c.cnt) // t.total AS BIGINT) AS share
      |  FROM c JOIN t USING (user_id)
      |)
      |SELECT t.user_id, t.n_types, t.total,
      |  COALESCE(string_agg(CASE WHEN s.share >= 1000
      |      THEN s.event_type || '=' || s.share END, ','
      |    ORDER BY s.event_type), '') AS profile
      |FROM t JOIN s USING (user_id)
      |GROUP BY t.user_id, t.n_types, t.total
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q107: chained EXISTS / NOT EXISTS decorrelation — the TPC-H Q21
  // plan shape, the hardest standard subquery pattern: per supplier,
  // count 'R'-flagged line items on multi-supplier orders where NO
  // OTHER supplier flagged the same order. Catalyst decorrelates the
  // EXISTS into a left-semi and the NOT EXISTS into a left-anti join
  // on l_orderkey — no per-row subquery loops; the identical SQL text
  // runs on DuckDB, so the oracle is definitionally in sync.
  // ---------------------------------------------------------------
  def q107ExistsChains(s: SparkSession, dir: String): DataFrame = {
    supplier(s, dir).createOrReplaceTempView("a_supplier")
    lineitem(s, dir).createOrReplaceTempView("a_lineitem")
    s.sql(q107Body("a_supplier", "a_lineitem"))
  }

  private def q107Body(sup: String, li: String): String =
    s"""SELECT s.s_name AS s_name, COUNT(*) AS numwait
       |FROM $sup s JOIN $li l1 ON l1.l_suppkey = s.s_suppkey
       |WHERE l1.l_returnflag = 'R'
       |  AND EXISTS (
       |    SELECT 1 FROM $li l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM $li l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_returnflag = 'R')
       |GROUP BY s.s_name
       |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  val q107Sql: String = q107Body("supplier", "lineitem")

  // ---------------------------------------------------------------
  // q113: VariantType semi-structured pipeline — Spark 4's native
  // open-schema type applied to the events props payload:
  // parse_json lands each payload as a VARIANT (binary-encoded,
  // shredded access without a fixed schema), variant_get extracts a
  // typed path, try_variant_get probes an absent path without
  // erroring, and schema_of_variant reports the per-row physical
  // type. This is the modern replacement for get_json_object string
  // re-parsing: the parse happens once, downstream accesses are
  // O(path) against the binary encoding — at 100 TB the variant
  // column also shreds into parquet typed subcolumns so the k-path
  // scan prunes like a real column. Aggregates bucket on k%10 in
  // exact int64.
  //
  // ORACLE COUPLING: the oracle hard-codes n_types = 1 because the
  // two engines' type-string vocabularies are not comparable (Spark's
  // schema_of_variant distinguishes int width classes TINYINT/
  // SMALLINT/...; DuckDB's json_structure reports one integer type),
  // so the distinct count itself can't be cross-computed. The query
  // therefore RELIES on the testdata invariant that every
  // events.props payload has the identical physical shape —
  // asserted explicitly in ExtOperatorsSpec ("q113 testdata
  // invariant"), so a testdata change fails there by name instead of
  // hash-mismatching here.
  // ---------------------------------------------------------------
  def q113VariantPipeline(s: SparkSession, dir: String): DataFrame = {
    val v = events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
      .withColumn("missing",
        expr("try_variant_get(v, '$.absent', 'long')"))
      .withColumn("vtype", expr("schema_of_variant(v)"))
    v.groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("missing").isNull, 1L).otherwise(0L))
          .as("n_absent"),
        countDistinct(col("vtype")).as("n_types"))
      .orderBy("k_bucket")
  }

  val q113Sql: String =
    """WITH v AS (
      |  SELECT user_id,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |    CAST(json_extract(props, '$.absent') AS BIGINT) AS missing
      |  FROM events
      |)
      |SELECT k % 10 AS k_bucket, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CASE WHEN missing IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_absent,
      |  CAST(1 AS BIGINT) AS n_types
      |FROM v GROUP BY k % 10 ORDER BY k_bucket""".stripMargin

  // ---------------------------------------------------------------
  // q159: context-length PACKING CURVE — the tuning sweep next to
  // q62's greedy packer: for each candidate context length, what does
  // chunk-and-pad batching cost? Runs ops.packingCurve per lang. All
  // quantities are exact int64 (ceil-div), so the curve is hash-match
  // gated, unlike a float-modeled estimate. Scale shape: one
  // token-count map stage, a ×|ctxs| bounded explode (4 here), one
  // partially-aggregated groupBy on (lang, ctx) — output is
  // O(langs·ctxs) regardless of corpus size.
  // ---------------------------------------------------------------
  private val PackCtxs = Seq(256L, 512L, 1024L, 2048L)

  def q159PackingCurve(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.packingCurve(
      documents(s, dir).select(col("lang"), size(words(col("text"))).as("tok")),
      "lang", "tok", PackCtxs)
      .orderBy("lang", "ctx")

  val q159Sql: String = {
    val ctxList = PackCtxs.mkString(", ")
    s"""WITH toks AS (
       |  SELECT lang, CAST(len(string_split(text,' ')) AS BIGINT) AS tok
       |  FROM documents
       |), x AS (
       |  SELECT lang, tok, CAST(ctx AS BIGINT) AS ctx
       |  FROM toks, unnest([$ctxList]) c(ctx)
       |), g AS (
       |  SELECT lang, ctx, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN tok <= ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
       |    CAST(SUM((tok + ctx - 1) // ctx) AS BIGINT) AS n_chunks,
       |    CAST(SUM(tok) AS BIGINT) AS n_tokens
       |  FROM x GROUP BY lang, ctx
       |)
       |SELECT lang, ctx, n_docs, n_fit, n_chunks, n_tokens,
       |  n_chunks*ctx - n_tokens AS pad_waste,
       |  ((20000*n_tokens + n_chunks*ctx) // (2*n_chunks*ctx)) / 10000.0
       |    AS fill_rate
       |FROM g ORDER BY lang, ctx""".stripMargin
  }

  // ---------------------------------------------------------------
  // q166: Z-ORDER LAYOUT EFFECTIVENESS — the multi-dimensional
  // clustering decision a 100-TB table owner makes (Delta/Iceberg
  // OPTIMIZE ZORDER BY): quantize two order dimensions (price cents,
  // order day) to 16 bits, interleave with functions.ZOrder.morton16
  // (pure built-in shifts/masks — one codegen stage, no custom
  // expression), then score three physical layouts by how many
  // equal-width "files" a fixed 2-D range predicate touches. A file
  // is one of 256 equal-width buckets of the layout's sort key —
  // exactly the granule parquet min/max stats prune at. The output
  // is the pruning story in one frame: a single-column sort serves
  // its own dimension and floods the other; the Z-curve bounds BOTH
  // (touched buckets ~ rectangle area x small fragmentation factor).
  // All arithmetic is exact int64 (quantize via `div`, cents via
  // round()) so the oracle hash-matches bit-for-bit.
  // At scale: the measured frame is what a layout advisor persists;
  // the write side is repartitionByRange(morton16(qx,qy)) + sortWithin
  // — one range exchange, no extra pass.
  // ---------------------------------------------------------------
  def q166ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrder.morton16
    val base = orders(s, dir).select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("day"))
    // corpus min/max: one broadcast row (the q69 scalar-subquery idiom)
    val ext = base.agg(min(col("cents")).as("minc"), max(col("cents")).as("maxc"),
      min(col("day")).as("mind"), max(col("day")).as("maxd"))
    val q = base.crossJoin(broadcast(ext))
      .withColumn("qx", expr("((cents - minc) * 65535) div (maxc - minc)"))
      .withColumn("qy", expr("((day - mind) * 65535) div (maxd - mind)"))
      .withColumn("zv", morton16(col("qx"), col("qy")))
      // the query rectangle: middle 1/8 of the price range x a 1/8
      // band of the date range — selective in BOTH dimensions
      .withColumn("m", col("qx").between(16384L, 24575L) &&
        col("qy").between(32768L, 40959L))
    q.select(col("m"), explode(array(
        struct(lit("date_sort").as("layout"), expr("qy div 256").as("bucket")),
        struct(lit("price_sort").as("layout"), expr("qx div 256").as("bucket")),
        struct(lit("zorder").as("layout"), expr("zv div 16777216").as("bucket"))))
        .as("lb"))
      .select(col("m"), col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .groupBy(col("layout"))
      .agg(sum(when(col("m"), 1L).otherwise(0L)).cast("long").as("n_match"),
        countDistinct(when(col("m"), col("bucket"))).cast("long").as("buckets_touched"),
        countDistinct(col("bucket")).cast("long").as("buckets_total"))
      .withColumn("touched_rate",
        Relational.ratio4(col("buckets_touched"), col("buckets_total")))
      .orderBy("layout")
  }

  val q166Sql: String =
    """WITH base AS (
      |  SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents,
      |    CAST(date_diff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      |  FROM orders
      |), ext AS (
      |  SELECT min(cents) AS minc, max(cents) AS maxc,
      |    min(day) AS mind, max(day) AS maxd FROM base
      |), q AS (
      |  SELECT ((cents - minc) * 65535) // (maxc - minc) AS qx,
      |    ((day - mind) * 65535) // (maxd - mind) AS qy
      |  FROM base, ext
      |), s1 AS (
      |  SELECT qx, qy,
      |    (qx | (qx << 8)) & 16711935 AS x1,
      |    (qy | (qy << 8)) & 16711935 AS y1 FROM q
      |), s2 AS (
      |  SELECT qx, qy,
      |    (x1 | (x1 << 4)) & 252645135 AS x2,
      |    (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1
      |), s3 AS (
      |  SELECT qx, qy,
      |    (x2 | (x2 << 2)) & 858993459 AS x3,
      |    (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2
      |), s4 AS (
      |  SELECT qx, qy,
      |    (x3 | (x3 << 1)) & 1431655765 AS x4,
      |    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3
      |), zr AS (
      |  SELECT qx, qy, (x4 | (y4 << 1)) AS zv,
      |    (qx BETWEEN 16384 AND 24575) AND (qy BETWEEN 32768 AND 40959) AS m
      |  FROM s4
      |), lb AS (
      |  SELECT 'zorder' AS layout, zv // 16777216 AS bucket, m FROM zr
      |  UNION ALL SELECT 'price_sort', qx // 256, m FROM zr
      |  UNION ALL SELECT 'date_sort', qy // 256, m FROM zr
      |)
      |SELECT layout,
      |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |  CAST(COUNT(DISTINCT CASE WHEN m THEN bucket END) AS BIGINT)
      |    AS buckets_touched,
      |  CAST(COUNT(DISTINCT bucket) AS BIGINT) AS buckets_total,
      |  ((20000*CAST(COUNT(DISTINCT CASE WHEN m THEN bucket END) AS BIGINT)
      |    + CAST(COUNT(DISTINCT bucket) AS BIGINT))
      |   // (2*CAST(COUNT(DISTINCT bucket) AS BIGINT))) / 10000.0
      |    AS touched_rate
      |FROM lb GROUP BY layout ORDER BY layout""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_zorder_layout" -> q166ZorderLayout _,
    "q159_packing_curve" -> q159PackingCurve _,
    "q113_variant_pipeline" -> q113VariantPipeline _,
    "q107_exists_chains" -> q107ExistsChains _,
    "q103_map_profile" -> q103MapProfile _,
    "q60_asof_native" -> q60AsofNative _,
    "q68_range_native" -> q68RangeNative _,
    "q69_correlated_subquery" -> q69CorrelatedSubquery _,
    "q70_lateral" -> q70Lateral _,
    "q61_decontaminate" -> q61Decontaminate _,
    "q62_pack_sequences" -> q62PackSequences _,
    "q51_bloom_semi" -> q51BloomSemi _,
    "q52_approx_quantiles" -> q52ApproxQuantiles _,
    "q53_cube" -> q53Cube _,
    "q54_pivot" -> q54Pivot _,
    "q55_rank_suite" -> q55RankSuite _,
    "q56_stratified_sample" -> q56StratifiedSample _,
    "q57_dedup_apply" -> q57DedupApply _,
    "q58_bigram_topk" -> q58BigramTopk _,
    "q59_pii_scrub" -> q59PiiScrub _)

  val oracles: Map[String, String] = Map(
    "q166_zorder_layout" -> q166Sql,
    "q159_packing_curve" -> q159Sql,
    "q107_exists_chains" -> q107Sql,
    "q103_map_profile" -> q103Sql,
    "q60_asof_native" -> Events.q37Sql,
    "q68_range_native" -> Events.q43Sql,
    "q113_variant_pipeline" -> q113Sql,
    "q69_correlated_subquery" -> q69Sql,
    "q70_lateral" -> q70Sql,
    "q61_decontaminate" -> q61Sql,
    "q62_pack_sequences" -> q62Sql,
    "q51_bloom_semi" -> q51Sql,
    "q52_approx_quantiles" -> q52Sql,
    "q53_cube" -> q53Sql,
    "q54_pivot" -> q54Sql,
    "q55_rank_suite" -> q55Sql,
    "q56_stratified_sample" -> q56Sql,
    "q57_dedup_apply" -> q57Sql,
    "q58_bigram_topk" -> q58Sql,
    "q59_pii_scrub" -> q59Sql)
}
