package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import Hashing._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.2
  * EXT): language ID, quality scoring, token statistics, document
  * fingerprinting. All pure Column expressions — whole-stage codegen,
  * one pass over the text column, no UDFs.
  */
object TextAnalysis {

  /** Fixed per-language marker-word lists (the standard stopword-
    * profile language-ID mechanism; lists chosen for the synthetic
    * corpus's per-language frequency profiles).
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "column", "big"),
    "en" -> Seq("order", "table", "window"),
    "es" -> Seq("slow", "agg", "merge", "vector"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("small", "the", "join"))

  // ---------------------------------------------------------------
  // q29: language ID — score each language's marker hits over the
  // token array, argmax with a fixed de<en<es<fr<zh tie-break chain
  // (identical CASE order in the oracle). Output: per-language
  // accuracy against the labeled lang column.
  // ---------------------------------------------------------------
  /** The marker-scoring language classifier expression — shared by
    * q29 (accuracy) and q132 (confusion matrix).
    */
  private def predLang: Column = {
    val ws = words(col("text"))
    val scores = Markers.map { case (l, ms) =>
      l -> size(filter(ws, w => w.isin(ms.map(lit(_)): _*)))
    }.toMap
    def ge(l: String, others: Seq[String]): Column =
      others.map(o => scores(l) >= scores(o)).reduce(_ && _)
    when(ge("de", Seq("en", "es", "fr", "zh")), "de")
      .when(ge("en", Seq("es", "fr", "zh")), "en")
      .when(ge("es", Seq("fr", "zh")), "es")
      .when(ge("fr", Seq("zh")), "fr")
      .otherwise("zh")
  }

  /** DuckDB mirror of [[predLang]] (a CTE body ending in a `pred`
    * column next to `lang`).
    */
  private def sqlPredLang: String = {
    def score(l: String): String = {
      val in = Markers.toMap.apply(l).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text,' '), w -> w IN ($in)))"
    }
    def ge(l: String, others: Seq[String]): String =
      others.map(o => s"s_$l >= s_$o").mkString(" AND ")
    s"""WITH scored AS (
       |  SELECT lang,
       |    ${Markers.map { case (l, _) => s"${score(l)} AS s_$l" }.mkString(",\n    ")}
       |  FROM documents
       |), p AS (
       |  SELECT lang,
       |    CASE WHEN ${ge("de", Seq("en", "es", "fr", "zh"))} THEN 'de'
       |         WHEN ${ge("en", Seq("es", "fr", "zh"))} THEN 'en'
       |         WHEN ${ge("es", Seq("fr", "zh"))} THEN 'es'
       |         WHEN ${ge("fr", Seq("zh"))} THEN 'fr'
       |         ELSE 'zh' END AS pred
       |  FROM scored
       |)""".stripMargin
  }

  def q29LangId(s: SparkSession, dir: String): DataFrame = {
    val pred = predLang
    documents(s, dir)
      .withColumn("pred", pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pred") === col("lang"), 1)).as("n_correct"))
      .withColumn("accuracy", Relational.ratio4(col("n_correct"), col("n_docs")))
      .orderBy("lang")
  }

  val q29Sql: String =
    s"""$sqlPredLang
       |SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN pred = lang THEN 1 END) AS n_correct,
       |  ((20000*COUNT(CASE WHEN pred = lang THEN 1 END) + COUNT(*)) // (2*COUNT(*))) / 10000.0 AS accuracy
       |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q132: language-ID CONFUSION matrix — the per-cell view behind
  // q29's accuracy scalar: which labeled language gets mistaken for
  // which predicted one, with each cell's share of its true-label
  // row. The evaluation every classifier-driven curation gate needs
  // before trusting the gate; same single corpus pass as q29, one
  // extra grouping key.
  // ---------------------------------------------------------------
  def q132LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val perCell = documents(s, dir)
      .withColumn("pred", predLang)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = perCell.groupBy(col("lang"))
      .agg(sum(col("n")).as("row_n"))
    perCell.join(broadcast(rowTotals), Seq("lang"))
      .select(col("lang"), col("pred"), col("n"),
        Relational.ratio4(col("n"), col("row_n")).as("row_share"))
      .orderBy("lang", "pred")
  }

  val q132Sql: String =
    s"""$sqlPredLang, cells AS (
       |  SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY lang, pred
       |), totals AS (
       |  SELECT lang, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY lang
       |)
       |SELECT lang, pred, n,
       |  ((20000*n + row_n) // (2*row_n)) / 10000.0 AS row_share
       |FROM cells JOIN totals USING (lang)
       |ORDER BY lang, pred""".stripMargin

  // ---------------------------------------------------------------
  // q30: per-document quality scoring: type-token ratio, stopword
  // ratio, length factor -> weighted score. The classic pre-training
  // quality filter shape (length/stopword/diversity heuristics).
  // ---------------------------------------------------------------
  def q30TextQuality(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val w = size(ws).cast("long")
    val d = size(array_distinct(ws)).cast("long")
    val st = size(filter(ws, x => x.isin("the", "a"))).cast("long")
    // quality = 0.5*d/w + 0.3*(w-st)/w + 0.2*least(w,100)/100
    //         = N / (1000*w) with the integer numerator below; all
    // ratios round half-up in exact int64 (see Relational.ratio4)
    val qualityNum = lit(100L) * (lit(5L) * d + lit(3L) * (w - st)) +
      lit(2L) * least(w, lit(100L)) * w
    documents(s, dir).select(
        col("doc_id"), col("lang"),
        w.as("n_words"),
        d.as("n_distinct"),
        Relational.ratio4(d, w).as("ttr"),
        Relational.ratio4(st, w).as("stop_ratio"),
        (Relational.ldiv(lit(20L) * qualityNum + w, lit(2L) * w) / 10000.0)
          .as("quality"))
      .orderBy("doc_id")
  }

  val q30Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
      |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS d,
      |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS st
      |  FROM documents
      |)
      |SELECT doc_id, lang, w AS n_words, d AS n_distinct,
      |  ((20000*d + w) // (2*w)) / 10000.0 AS ttr,
      |  ((20000*st + w) // (2*w)) / 10000.0 AS stop_ratio,
      |  ((20*(100*(5*d + 3*(w - st)) + 2*least(w, 100)*w) + w) // (2*w)) / 10000.0 AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q31: corpus token statistics per language: token counts, distinct
  // vocabulary, and a BPE-ish subword proxy (consonant/vowel run
  // segmentation via regex) — token counting without a tokenizer
  // model, as a pre-training corpus-size estimator.
  // ---------------------------------------------------------------
  def q31TokenStats(s: SparkSession, dir: String): DataFrame = {
    val pieces = size(regexp_extract_all(col("text"), lit("[aeiou]+|[^aeiou ]+"), lit(0)))
    val docStats = documents(s, dir)
      .select(col("lang"), size(words(col("text"))).as("n_tok"), pieces.as("n_pieces"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"))
    val vocab = documents(s, dir)
      .select(col("lang"), explode(words(col("text"))).as("w"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("n_vocab"))
    docStats.join(vocab, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_vocab"),
        Relational.ratio4(col("n_tokens"), col("n_docs")).as("tokens_per_doc"),
        Relational.ratio4(col("n_pieces"), col("n_tokens")).as("pieces_per_token"))
      .orderBy("lang")
  }

  val q31Sql: String =
    """WITH ds AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))) AS BIGINT) AS n_pieces
      |  FROM documents GROUP BY lang
      |), v AS (
      |  SELECT lang, COUNT(DISTINCT w) AS n_vocab
      |  FROM (SELECT lang, unnest(string_split(text,' ')) AS w FROM documents)
      |  GROUP BY lang
      |)
      |SELECT lang, n_docs, n_tokens, n_vocab,
      |  ((20000*n_tokens + n_docs) // (2*n_docs)) / 10000.0 AS tokens_per_doc,
      |  ((20000*n_pieces + n_tokens) // (2*n_tokens)) / 10000.0 AS pieces_per_token
      |FROM ds JOIN v USING (lang) ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q32: document fingerprinting: full-content md5, winnowing-style
  // minimum-shingle fingerprint (stable under local edits), and a
  // 60-bit integer fingerprint — the three standard exact/near/compact
  // fingerprint shapes.
  // ---------------------------------------------------------------
  def q32Fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("full_md5"),
        minhash(shingles(col("text"), 3), 0).as("min_shingle_fp"),
        hash60(col("text")).as("fp60"))
      .orderBy("doc_id")

  val q32Sql: String =
    s"""SELECT doc_id, md5(text) AS full_md5,
       |  ${sqlMinhash(sqlShingles(3), 0)} AS min_shingle_fp,
       |  ${sqlHash60("text")} AS fp60
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q38: per-language TF-IDF top terms: tf = term occurrences within
  // the language, df = documents containing the term (corpus-wide),
  // idf = ln((N+1)/(df+1)). Two partial-aggregated passes over the
  // exploded tokens + one broadcast-joined doc-frequency table; top-5
  // per language by (rounded tfidf, term) via row_number.
  // ---------------------------------------------------------------
  def q38Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(words(col("text"))).as("w"))
    // corpus size as a broadcast scalar subquery — keeps the whole
    // query ONE plan (a driver-side count() here would be a separate
    // job serializing plan construction; the oracle already uses the
    // subquery form)
    val nn = docs.agg(count(lit(1)).cast("double").as("nn"))
    val tf = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "w")
      .crossJoin(broadcast(nn))
      .withColumn("tfidf",
        round(col("tf") * log((col("nn") + 1.0) / (col("df") + 1.0)), 4))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("w").as("term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy("lang", "rank")
  }

  val q38Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS w FROM documents
      |), tf AS (
      |  SELECT lang, w, COUNT(*) AS tf FROM tok GROUP BY lang, w
      |), df AS (
      |  SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w
      |), n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT lang, w, tf, df,
      |    ROUND(tf * ln((n.n + 1.0) / (df + 1.0)), 4) AS tfidf
      |  FROM tf JOIN df USING (w) CROSS JOIN n
      |), ranked AS (
      |  SELECT lang, w, tf, df, tfidf,
      |    row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, w) AS rank
      |  FROM scored
      |)
      |SELECT lang, CAST(rank AS INT) AS rank, w AS term, tf, df, tfidf
      |FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------
  // q46: edit-distance near-dup metric on the prefix-filtered
  // candidate pairs (same min-shingle blocking as q25): levenshtein
  // over the first 64 chars — exact integers in both engines. At
  // scale the blocking bounds the quadratic edit-distance work to
  // near-dup candidates only.
  // ---------------------------------------------------------------
  def q46EditDistance(s: SparkSession, dir: String): DataFrame = {
    // cached: both self-join sides read it (cf. Dedup.q25). Eagerly
    // materialized so the join's two scans don't race to cache the
    // same partitions (duplicate work + block-manager churn).
    val d = documents(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 64).as("head"),
        minhash(shingles(col("text"), 3), 0).as("mk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d)
    val a = d.alias("a")
    val b = d.alias("b")
    a.join(b, col("a.mk") === col("b.mk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        levenshtein(col("a.head"), col("b.head")).as("edit_dist"))
      .orderBy("i", "j")
  }

  val q46Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, substr(text, 1, 64) AS head,
       |    ${sqlMinhash(sqlShingles(3), 0)} AS mk
       |  FROM documents
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
       |FROM d a JOIN d b ON a.mk = b.mk AND a.doc_id < b.doc_id
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------
  // q47: deterministic hash sampling — the reproducible-corpus-sample
  // primitive (rand()-based sampling is not replayable; hashing the
  // content is): keep docs whose 28-bit md5 falls in the lowest 10%
  // of the hash space, report the per-language sampling rate.
  // ---------------------------------------------------------------
  def q47HashSample(s: SparkSession, dir: String): DataFrame = {
    val inSample = hash28(col("text")) < (1L << 28) / 10
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(inSample, 1)).as("n_sampled"))
      .withColumn("rate", Relational.ratio4(col("n_sampled"), col("n_docs")))
      .orderBy("lang")
  }

  val q47Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN ${sqlHash28("text")} < ${(1L << 28) / 10} THEN 1 END) AS n_sampled,
       |  ((20000*COUNT(CASE WHEN ${sqlHash28("text")} < ${(1L << 28) / 10} THEN 1 END) + COUNT(*))
       |   // (2*COUNT(*))) / 10000.0 AS rate
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q49: the composed training-data pipeline — the shape every
  // operator above exists to serve: quality filter (q30's score) ->
  // exact dedup (min doc_id per content hash) -> deterministic 50%
  // hash sample -> per-language corpus stats. One declarative plan:
  // Catalyst fuses the filter stages into the scan and the dedup
  // aggregation is the only shuffle.
  // ---------------------------------------------------------------
  def q49CorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val w = size(ws).cast("long")
    val d = size(array_distinct(ws)).cast("long")
    val st = size(filter(ws, x => x.isin("the", "a"))).cast("long")
    val qualityNum = lit(100L) * (lit(5L) * d + lit(3L) * (w - st)) +
      lit(2L) * least(w, lit(100L)) * w
    val quality = Relational.ldiv(lit(20L) * qualityNum + w, lit(2L) * w) / 10000.0
    documents(s, dir)
      .withColumn("quality", quality)
      .filter(col("quality") >= 0.55)
      .withColumn("in_sample", hash28(col("text")) < (1L << 28) / 2)
      .filter(col("in_sample"))
      .groupBy(col("lang"), md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), min(col("n_chars")).as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("total_chars"),
        min(col("keep_id")).as("min_keep_id"))
      .orderBy("lang")
  }

  val q49Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, n_chars, text,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
       |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS d,
       |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS st
       |  FROM documents
       |), kept AS (
       |  SELECT lang, md5(text) AS h, MIN(doc_id) AS keep_id, MIN(n_chars) AS n_chars
       |  FROM scored
       |  WHERE ((20*(100*(5*d + 3*(w - st)) + 2*least(w, 100)*w) + w) // (2*w)) / 10000.0 >= 0.55
       |    AND ${sqlHash28("text")} < ${(1L << 28) / 2}
       |  GROUP BY lang, md5(text)
       |)
       |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(keep_id) AS min_keep_id
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q64: QUALITY GATING — the filter step after q30's scoring: keep
  // the top half of each language by quality. The cutoff is
  // RANK-based in pure integers (2*(rank-1) <= n-1, i.e. percent_rank
  // <= 0.5 without the float division), because a value-percentile
  // cutoff compares floats at the boundary where engines can differ
  // by an ulp. Ordering ties break on doc_id, so the kept set is
  // deterministic. Scale: one window per language over (q_e4,
  // doc_id) — rank cutoffs at 100 TB would switch to the q47-style
  // hash-threshold or a two-pass approx-quantile + exact boundary
  // count, both documented here as the scale path.
  // ---------------------------------------------------------------
  def q64QualityGate(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val w = size(ws).cast("long")
    val d = size(array_distinct(ws)).cast("long")
    val st = size(filter(ws, x => x.isin("the", "a"))).cast("long")
    val qualityNum = lit(100L) * (lit(5L) * d + lit(3L) * (w - st)) +
      lit(2L) * least(w, lit(100L)) * w
    val qe4 = Relational.ldiv(lit(20L) * qualityNum + w, lit(2L) * w)
    val base = documents(s, dir)
      .select(col("doc_id"), col("lang"), qe4.as("q_e4"))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(col("q_e4").desc, col("doc_id"))
    val nw = Window.partitionBy(col("lang"))
    base.withColumn("rnk", row_number().over(rw).cast("long"))
      .withColumn("n", count(lit(1)).over(nw))
      .withColumn("keep", (lit(2L) * (col("rnk") - 1) <= col("n") - 1).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        min(when(col("keep") === 1, col("q_e4"))).as("min_kept_q4"),
        sum(when(col("keep") === 1, col("q_e4"))).cast("long").as("kept_q4_sum"))
      .orderBy("lang")
  }

  val q64Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
      |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS d,
      |    CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS st
      |  FROM documents
      |), scored AS (
      |  SELECT doc_id, lang,
      |    (20*(100*(5*d + 3*(w - st)) + 2*least(w, 100)*w) + w) // (2*w) AS q_e4
      |  FROM t
      |), ranked AS (
      |  SELECT lang, q_e4,
      |    row_number() OVER (PARTITION BY lang ORDER BY q_e4 DESC, doc_id) AS rnk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM scored
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(COUNT(CASE WHEN 2*(rnk-1) <= n-1 THEN 1 END) AS BIGINT) AS n_kept,
      |  MIN(CASE WHEN 2*(rnk-1) <= n-1 THEN q_e4 END) AS min_kept_q4,
      |  CAST(SUM(CASE WHEN 2*(rnk-1) <= n-1 THEN q_e4 END) AS BIGINT) AS kept_q4_sum
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q65: VOCABULARY COVERAGE — the tokenizer-training statistic: per
  // language, how many distinct words cover 90% of all token
  // occurrences (and what the top-100 words alone cover). Frequency
  // ranks tie-break on the word itself; the 90% cutoff is integer
  // arithmetic (10*(cumsum-freq) < 9*total). The per-lang window runs
  // over the VOCABULARY (tokens collapse to distinct words first via
  // a partial-aggregated count), which stays window-task-sized even
  // when the corpus does not.
  // ---------------------------------------------------------------
  def q65VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val freq = documents(s, dir)
      .select(col("lang"), explode(words(col("text"))).as("w"))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("f"))
    val ord = Window.partitionBy(col("lang"))
      .orderBy(col("f").desc, col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("lang"))
    freq
      .withColumn("cum", sum(col("f")).over(ord))
      .withColumn("total", sum(col("f")).over(tot))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("f").desc, col("w"))))
      .groupBy(col("lang"))
      .agg(max(col("total")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        count(when(lit(10L) * (col("cum") - col("f")) < lit(9L) * col("total"), 1))
          .as("vocab_90"),
        sum(when(col("rnk") <= 100, col("f"))).cast("long").as("top100_tokens"))
      .withColumn("top100_cover",
        Relational.ratio4(col("top100_tokens"), col("total_tokens")))
      .orderBy("lang")
  }

  val q65Sql: String =
    """WITH freq AS (
      |  SELECT lang, w, COUNT(*) AS f
      |  FROM (SELECT lang, unnest(string_split(text,' ')) AS w FROM documents)
      |  GROUP BY lang, w
      |), c AS (
      |  SELECT lang, f,
      |    SUM(f) OVER (PARTITION BY lang ORDER BY f DESC, w
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(f) OVER (PARTITION BY lang) AS total,
      |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, w) AS rnk
      |  FROM freq
      |)
      |SELECT lang, CAST(MAX(total) AS BIGINT) AS total_tokens,
      |  COUNT(*) AS vocab_size,
      |  COUNT(CASE WHEN 10*(cum - f) < 9*total THEN 1 END) AS vocab_90,
      |  CAST(SUM(CASE WHEN rnk <= 100 THEN f END) AS BIGINT) AS top100_tokens,
      |  ((20000*CAST(SUM(CASE WHEN rnk <= 100 THEN f END) AS BIGINT)
      |    + CAST(MAX(total) AS BIGINT))
      |   // (2*CAST(MAX(total) AS BIGINT))) / 10000.0 AS top100_cover
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q67: REPETITION filtering (the C4/Gopher-style cleanup step):
  // per-document duplicate n-gram fractions — (total n-grams -
  // distinct n-grams) / total, for n = 2 and 3 — flag documents where
  // either exceeds 30%. Everything is per-row array arithmetic in
  // exact integers (flag: 10*dup > 3*total), so the whole detector is
  // a zero-shuffle map stage; only the per-lang rollup aggregates.
  // ---------------------------------------------------------------
  def q67RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val w = size(words(col("text"))).cast("long")
    def tot(n: Int) = greatest(w - (n - 1), lit(1L))
    def dup(n: Int) = tot(n) - size(shingles(col("text"), n)).cast("long")
    val flagged = (lit(10L) * dup(3) > lit(3L) * tot(3)) ||
      (lit(10L) * dup(2) > lit(3L) * tot(2))
    documents(s, dir)
      .select(col("lang"), dup(3).as("d3"), tot(3).as("t3"),
        flagged.cast("int").as("flagged"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flagged")).cast("long").as("n_flagged"),
        sum(col("d3")).cast("long").as("dup3_grams"),
        sum(col("t3")).cast("long").as("total3_grams"))
      .withColumn("dup3_rate",
        Relational.ratio4(col("dup3_grams"), col("total3_grams")))
      .orderBy("lang")
  }

  val q67Sql: String = {
    def tot(n: Int) = s"greatest(len(string_split(text,' ')) - ${n - 1}, 1)"
    def dup(n: Int) = s"($${TOT$n} - len(${sqlShingles(n)}))"
      .replace(s"$${TOT$n}", tot(n))
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(${dup(3)} AS BIGINT) AS d3,
       |    CAST(${tot(3)} AS BIGINT) AS t3,
       |    CAST(10*${dup(3)} > 3*${tot(3)}
       |      OR 10*${dup(2)} > 3*${tot(2)} AS INT) AS flagged
       |  FROM documents
       |)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       |  CAST(SUM(d3) AS BIGINT) AS dup3_grams,
       |  CAST(SUM(t3) AS BIGINT) AS total3_grams,
       |  ((20000*CAST(SUM(d3) AS BIGINT) + CAST(SUM(t3) AS BIGINT))
       |   // (2*CAST(SUM(t3) AS BIGINT))) / 10000.0 AS dup3_rate
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q71: CHUNKING — the RAG/ingestion step: split documents into
  // overlapping word windows (64-word chunks, stride 48) and report
  // per-language chunk counts plus cross-chunk dedup (distinct chunk
  // hashes < total chunks: overlap and repeated text collapse).
  // Chunk count is exact integers (1 + ceil((w-C)/S)); chunk
  // materialization is one explode whose fan-out is ~w/S per doc.
  // ---------------------------------------------------------------
  private val ChunkWords = 64L
  private val ChunkStride = 48L

  def q71Chunking(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val w = size(ws).cast("long")
    // 1 + ceil(max(w - C, 0) / S) in pure int64
    val nChunks = lit(1L) + Relational.ldiv(
      greatest(w - ChunkWords, lit(0L)) + ChunkStride - 1, lit(ChunkStride))
    val chunks = documents(s, dir)
      .select(col("doc_id"), col("lang"), ws.as("ws"), nChunks.as("nc"))
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(0L), col("nc") - 1),
          i => md5(concat_ws(" ",
            slice(col("ws"), (i * ChunkStride + 1).cast("int"), lit(ChunkWords.toInt))))))
          .as("chunk_hash"))
    chunks.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
      .withColumn("dup_chunk_rate",
        Relational.ratio4(col("n_chunks") - col("n_distinct_chunks"),
          col("n_chunks")))
      .orderBy("lang")
  }

  val q71Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text,' ') AS ws,
       |    1 + (greatest(len(string_split(text,' ')) - $ChunkWords, 0)
       |         + $ChunkStride - 1) // $ChunkStride AS nc
       |  FROM documents
       |), chunks AS (
       |  SELECT doc_id, lang,
       |    md5(array_to_string(
       |      list_slice(ws, i.i*$ChunkStride + 1, i.i*$ChunkStride + $ChunkWords),
       |      ' ')) AS chunk_hash
       |  FROM d, unnest(range(d.nc)) i(i)
       |)
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_chunks,
       |  COUNT(DISTINCT chunk_hash) AS n_distinct_chunks,
       |  ((20000*(COUNT(*) - COUNT(DISTINCT chunk_hash)) + COUNT(*))
       |   // (2*COUNT(*))) / 10000.0 AS dup_chunk_rate
       |FROM chunks GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q109: unigram surprisal scoring — the shape of model-based
  // quality filtering (CCNet/KenLM-style perplexity gating) with the
  // language model replaced by an exactly-portable statistic: each
  // token's "surprisal" is its corpus frequency RANK (1 = most
  // common), so rare-token-heavy documents score high just as they
  // do under -log p(w), but every number is an int64 and both
  // engines agree bit-for-bit (float log disagrees in the last ulp
  // across libms). Plan shape is the real thing: one corpus pass
  // builds the vocabulary table (vocab-sized — tiny by construction,
  // so the global rank window and the scoring join are broadcast),
  // then one corpus pass scores. At 100 TB the vocab table for a
  // real LM is exactly this per-token broadcast lookup.
  // ---------------------------------------------------------------
  def q109UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"), col("source"), explode(words(col("text"))).as("w"))
    // vocab-sized frame: the unpartitioned rank window runs on one
    // task over |V| rows, never over the corpus
    val ranked = toks.groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .select(col("w"), col("rank"))
    val perDoc = toks
      .join(broadcast(ranked), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_toks"), sum(col("rank")).as("sum_rank"))
      // avg rank > 15.2  <=>  10*sum_rank > 152*n_toks (pure int64;
      // cutoff sits inside the observed per-doc range so the flag
      // actually separates documents)
      .withColumn("high",
        (col("sum_rank") * 10 > col("n_toks") * 152).cast("long"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        Relational.ratio4(sum(col("sum_rank")), sum(col("n_toks")))
          .as("avg_rank"),
        sum(col("high")).as("n_high"))
      .orderBy("source")
  }

  val q109Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), ranked AS (
      |  SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rank
      |  FROM toks GROUP BY w
      |), per_doc AS (
      |  SELECT doc_id, source, COUNT(*) AS n_toks,
      |    CAST(SUM(rank) AS BIGINT) AS sum_rank
      |  FROM toks JOIN ranked USING (w)
      |  GROUP BY doc_id, source
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  ((20000*CAST(SUM(sum_rank) AS BIGINT) + CAST(SUM(n_toks) AS BIGINT))
      |    // (2*CAST(SUM(n_toks) AS BIGINT))) / 10000.0 AS avg_rank,
      |  CAST(SUM(CASE WHEN sum_rank*10 > n_toks*152 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_high
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q111: BPE pair-merge step — the inner loop of byte-pair-encoding
  // tokenizer training: count every adjacent character pair weighted
  // by word frequency and emit the top merge candidates. The
  // expensive corpus tokenize collapses to a word-frequency table
  // FIRST (partial-aggregated — the classic BPE optimization: pair
  // counting runs over |V| distinct words, not over every corpus
  // token), then pairs explode from the tiny vocab frame. At 100 TB
  // the vocab table is still ~millions of rows; the corpus is
  // touched exactly once.
  // ---------------------------------------------------------------
  def q111BpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val wc = documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = wc.filter(length(col("w")) >= 2)
      .select(col("c"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
    pairs
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))))
      .filter(col("rnk") <= 15)
      .select(col("rnk"), col("pair"), col("n"))
      .orderBy("rnk")
  }

  val q111Sql: String =
    """WITH wc AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w
      |), p AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS pair, c
      |  FROM wc, unnest(range(1, length(w))) t(i)
      |  WHERE length(w) >= 2
      |), a AS (
      |  SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM p GROUP BY pair
      |)
      |SELECT rnk, pair, n FROM (
      |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk
      |  FROM a
      |) WHERE rnk <= 15 ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------
  // q116: CONTENT-DEFINED chunking — the rsync/FastCDC boundary rule
  // applied to words: cut after any position whose trailing 3-gram
  // hashes to 0 mod 8 (avg chunk ~8 words). Unlike q71's fixed-stride
  // chunks, boundaries move WITH the content, so an insertion early
  // in a document shifts no boundary more than one window away — the
  // property that makes chunk-level dedup robust to edits (the
  // backup/storage dedup standard). One posexplode + two per-doc
  // window passes (boundary flag, then running chunk id), then a
  // corpus-wide chunk-hash count for the dup rate: every shuffle key
  // is doc- or chunk-hash-bounded. Hashes are md5-prefix ints, so
  // the oracle replays the identical boundary sequence.
  // ---------------------------------------------------------------
  def q116CdcChunking(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tokens = documents(s, dir)
      .select(col("doc_id"), col("source"), posexplode(words(col("text"))))
      .select(col("doc_id"), col("source"), col("pos"), col("col").as("w"))
    val flagged = tokens
      .withColumn("tri", concat_ws(" ",
        lag(col("w"), 2).over(w), lag(col("w"), 1).over(w), col("w")))
      .withColumn("cut",
        when(col("pos") >= 2 &&
          conv(substring(md5(col("tri")), 1, 4), 16, 10).cast("long") % 8 === 0,
          1L).otherwise(0L))
    val chunked = flagged
      .withColumn("chunk_id",
        coalesce(sum(col("cut")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("w")))),
            p => p.getField("w")))).as("chunk_hash"))
    val dupHashes = chunked.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("chunk_hash"))
    chunked
      .join(dupHashes.withColumn("dup", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("n_words"),
        Relational.ratio4(sum(col("n_words")), count(lit(1)))
          .as("avg_chunk_words"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"),
        Relational.ratio4(sum(coalesce(col("dup"), lit(0L))),
          count(lit(1))).as("dup_rate"))
      .orderBy("source")
  }

  val q116Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
      |    ws[CAST(i+1 AS INT)] AS w
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
      |        FROM documents), unnest(range(len(ws))) t(i)
      |), flagged AS (
      |  SELECT doc_id, source, pos, w,
      |    CASE WHEN pos >= 2 AND
      |      CAST('0x' || substr(md5(
      |        lag(w, 2) OVER dw || ' ' || lag(w, 1) OVER dw || ' ' || w),
      |        1, 4) AS BIGINT) % 8 = 0
      |    THEN 1 ELSE 0 END AS cut
      |  FROM tok
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      |), chunked AS (
      |  SELECT doc_id, source, chunk_id, COUNT(*) AS n_words,
      |    md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
      |  FROM (
      |    SELECT doc_id, source, pos, w,
      |      COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS chunk_id
      |    FROM flagged
      |  ) GROUP BY doc_id, source, chunk_id
      |), dup AS (
      |  SELECT chunk_hash FROM chunked GROUP BY chunk_hash
      |  HAVING COUNT(*) >= 2
      |)
      |SELECT source, COUNT(*) AS n_chunks,
      |  CAST(SUM(n_words) AS BIGINT) AS n_words,
      |  ((20000*CAST(SUM(n_words) AS BIGINT) + COUNT(*))
      |    // (2*COUNT(*))) / 10000.0 AS avg_chunk_words,
      |  CAST(SUM(CASE WHEN dup.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dup_chunks,
      |  ((20000*CAST(SUM(CASE WHEN dup.chunk_hash IS NOT NULL
      |                        THEN 1 ELSE 0 END) AS BIGINT) + COUNT(*))
      |    // (2*COUNT(*))) / 10000.0 AS dup_rate
      |FROM chunked LEFT JOIN dup USING (chunk_hash)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q141: per-source LEXICAL DRIFT — total-variation distance between
  // each source's unigram distribution and the whole-corpus
  // distribution: TVD(s) = Σ_w |P_s(w) - P(w)| / 2. The distribution-
  // shift monitor for corpus composition (a source whose language
  // model suddenly diverges from the pool is a crawl change or a
  // contamination event) — q95's drift statistic lifted from numeric
  // buckets to the open vocabulary. Exact int64 by cross-multiplying:
  // |c_sw·N - C_w·n_s| over a common denominator n_s·N; words ABSENT
  // from a source contribute (N - Σ_present C_w)·n_s without ever
  // materializing the absent rows. Envelope: c_sw·N < 2^63 up to
  // ~3e9-token corpora per the comment at the div; beyond that the
  // statistic shards by vocabulary range first. Scale shape: one
  // token explode, two partial-aggregated groupBys, corpus vocab
  // BROADCAST to the per-source rows — the corpus never shuffles
  // twice.
  // ---------------------------------------------------------------
  def q141LexicalDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(toks) // eager: three aggregations read it
    val perSrc = toks.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
    val srcTot = perSrc.groupBy(col("source"))
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).as("v_s"))
    val corpus = toks.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val tot = toks.agg(count(lit(1)).as("n_tot")) // 1-row scalar frame
    perSrc
      .join(broadcast(corpus), "w") // vocab-sized
      .join(broadcast(srcTot), "source") // |sources|-sized
      .crossJoin(broadcast(tot)) // scalar-subquery idiom
      .groupBy(col("source"), col("n_s"), col("v_s"), col("n_tot"))
      .agg(sum(abs(col("c_sw") * col("n_tot") - col("c_w") * col("n_s")))
          .as("present_num"),
        sum(col("c_w")).as("c_present"))
      // int64 envelope: 20000·num ≤ 20000·2·n_s·N — safe while
      // n_s·N < 2^53-ish, i.e. corpora to ~3e9 tokens; `div` keeps
      // the quotient exact (the q124 lesson)
      .withColumn("num",
        col("present_num") + (col("n_tot") - col("c_present")) * col("n_s"))
      .withColumn("tvd4",
        expr("(20000 * num + 2 * n_s * n_tot) div (4 * n_s * n_tot)")
          / 10000.0)
      .select(col("source"), col("n_s").as("n_tokens"),
        col("v_s").as("n_vocab"), col("tvd4"))
      .orderBy("source")
  }

  val q141Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      |), per AS (
      |  SELECT source, w, COUNT(*) AS c_sw FROM toks GROUP BY 1, 2
      |), st AS (
      |  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
      |    COUNT(*) AS v_s
      |  FROM per GROUP BY 1
      |), cw AS (
      |  SELECT w, COUNT(*) AS c_w FROM toks GROUP BY 1
      |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM toks),
      |agg AS (
      |  SELECT p.source, st.n_s, st.v_s,
      |    CAST(SUM(ABS(p.c_sw*(SELECT n_tot FROM tot) - cw.c_w*st.n_s))
      |      AS BIGINT) AS present_num,
      |    CAST(SUM(cw.c_w) AS BIGINT) AS c_present
      |  FROM per p JOIN cw USING (w) JOIN st ON st.source = p.source
      |  GROUP BY p.source, st.n_s, st.v_s
      |)
      |SELECT source, n_s AS n_tokens, v_s AS n_vocab,
      |  ((20000*(present_num + ((SELECT n_tot FROM tot) - c_present)*n_s)
      |      + 2*n_s*(SELECT n_tot FROM tot))
      |    // (4*n_s*(SELECT n_tot FROM tot))) / 10000.0 AS tvd4
      |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q147: prefix-fingerprint dedup YIELD curve — the accounting that
  // decides whether a dedup pass is worth running: cluster docs by
  // the md5 of their first 10 words (the cheap boilerplate/template
  // key — URL-dedup's text analog; exact-content clustering is q22's
  // job), bucket clusters by size (1, 2, 3, 4, 5+), and report per
  // bucket how many docs a keep-one policy removes and how many
  // tokens it saves. The keeper is the min-doc_id member (min_by /
  // arg_min — deterministic), so tokens_saved = cluster tokens minus
  // the keeper's. One hash-groupBy + one bucket rollup, both
  // partial-aggregated — the same plan at any corpus size.
  // ---------------------------------------------------------------
  def q147DedupYield(s: SparkSession, dir: String): DataFrame = {
    val prefix = concat_ws(" ", slice(words(col("text")), 1, 10))
    val cl = documents(s, dir)
      .withColumn("tok", size(words(col("text"))).cast("long"))
      .groupBy(md5(prefix).as("h"))
      .agg(count(lit(1)).as("sz"), sum(col("tok")).as("tok_sum"),
        min_by(col("tok"), col("doc_id")).as("tok_keep"))
    cl.groupBy(when(col("sz") >= 5, lit("5+"))
        .otherwise(col("sz").cast("string")).as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removable"),
        sum(col("tok_sum") - col("tok_keep")).as("tokens_saved"))
      .orderBy("cluster_size")
  }

  val q147Sql: String =
    """WITH cl AS (
      |  SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h,
      |    COUNT(*) AS sz,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
      |    arg_min(len(string_split(text, ' ')), doc_id) AS tok_keep
      |  FROM documents GROUP BY 1
      |)
      |SELECT CASE WHEN sz >= 5 THEN '5+' ELSE CAST(sz AS VARCHAR) END
      |    AS cluster_size,
      |  COUNT(*) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
      |  CAST(SUM(tok_sum - tok_keep) AS BIGINT) AS tokens_saved
      |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------------------
  // q148: deterministic train/val/test SPLIT assignment — the
  // reproducible-split primitive: each doc's split comes from a
  // salted content-independent hash of its ID (salt "split:", so the
  // assignment is independent of q47's sampling hash and stable
  // under corpus growth — a doc never changes split when others are
  // added), thresholded 90/5/5 on the 28-bit space in exact integers.
  // Output audits the realized proportions per language — the check
  // that hash splitting actually delivered the nominal rates. Pure
  // map + one aggregation + a lang-partitioned share window.
  // ---------------------------------------------------------------
  private val SplitSpace = 1L << 28
  private val TrainMax = SplitSpace * 90 / 100
  private val ValMax = SplitSpace * 95 / 100

  def q148SplitAssign(s: SparkSession, dir: String): DataFrame = {
    val h = hash28(concat(lit("split:"), col("doc_id").cast("string")))
    val split = when(h < TrainMax, "train")
      .when(h < ValMax, "val").otherwise("test")
    val w = Window.partitionBy(col("lang"))
    documents(s, dir)
      .withColumn("tok", size(words(col("text"))).cast("long"))
      .groupBy(col("lang"), split.as("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .withColumn("share4",
        Relational.ratio4(col("n_docs"), sum(col("n_docs")).over(w)))
      .orderBy("lang", "split")
  }

  val q148Sql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    CASE WHEN ${sqlHash28("'split:' || CAST(doc_id AS VARCHAR)")}
       |           < $TrainMax THEN 'train'
       |         WHEN ${sqlHash28("'split:' || CAST(doc_id AS VARCHAR)")}
       |           < $ValMax THEN 'val'
       |         ELSE 'test' END AS split,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents
       |), g AS (
       |  SELECT lang, split, COUNT(*) AS n_docs,
       |    CAST(SUM(tok) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY 1, 2
       |)
       |SELECT lang, split, n_docs, n_tokens,
       |  ((20000*n_docs + SUM(n_docs) OVER (PARTITION BY lang))
       |    // (2*SUM(n_docs) OVER (PARTITION BY lang))) / 10000.0
       |    AS share4
       |FROM g ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------------------
  // q156: word-concentration quality signal — the Herfindahl index
  // of each document's word-frequency distribution (sum of squared
  // frequency shares) plus the top-word share. This is the
  // REPETITIVENESS axis the existing quality gates don't cover: TTR
  // (q30) sees how many distinct words exist but not how skewed
  // their mass is, and the dup-n-gram rules (q67) need repeats to be
  // ADJACENT n-grams — a document that scatters one word everywhere
  // scores clean on both yet has HHI near 1. Exact int64 throughout:
  // hhi = sum(c_w^2)/w^2 and top_share = max(c_w)/w are integer
  // ratios (c_w <= w <= doc length, so sum(c_w^2) <= w^2 < 2^40),
  // surfaced through ratio4's half-up 4-dp grid — both engines
  // branch identically, no float entropy needed.
  //
  // Scale shape: explode -> two partially-combined hash aggregates
  // keyed by doc_id (token counts, then per-doc moments) — no joins,
  // no windows; the shuffle carries per-doc DISTINCT-word counts,
  // not raw tokens, thanks to the map-side combine.
  // ---------------------------------------------------------------
  def q156WordConcentration(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("c")).as("sq_mass"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        Relational.ratio4(col("sq_mass"), col("n_words") * col("n_words"))
          .as("hhi4"),
        Relational.ratio4(col("top_count"), col("n_words")).as("top_share4"))
      .orderBy("doc_id")

  val q156Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), counts AS (
      |  SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_words,
      |  ((20000*CAST(SUM(c*c) AS BIGINT)
      |      + CAST(SUM(c)*SUM(c) AS BIGINT))
      |    // (2*CAST(SUM(c)*SUM(c) AS BIGINT))) / 10000.0 AS hhi4,
      |  ((20000*CAST(MAX(c) AS BIGINT) + CAST(SUM(c) AS BIGINT))
      |    // (2*CAST(SUM(c) AS BIGINT))) / 10000.0 AS top_share4
      |FROM counts GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q162: BPE tokenizer APPLY — q111 trains the merge step; this
  // query ENCODES the corpus with the trained table, the operator a
  // production pipeline executes on every document forever after.
  // Train: the first-generation char-pair merges (q111's counting,
  // top 15 by weighted frequency). The table is collected to the
  // driver ON PURPOSE — a tokenizer merge table is a trained
  // artifact (tokenizer.json, ~50k entries real-world, 15 here; both
  // driver-sized by construction), loaded once and shipped inside
  // the codegen'd BpeEncode expression as a reference object. The
  // alternative (joining the table per token pair) would shuffle the
  // tokenized corpus against the vocab — exactly the exchange the
  // native kernel deletes.
  // Apply: over the DISTINCT-word table, weighted by word count
  // (q111's |V|-not-|corpus| optimization), so the plan is one
  // corpus pass -> vocab aggregate -> codegen'd encode -> explode ->
  // token aggregate -> top-25. Joinless; pinned in PlanQualitySpec.
  // Oracle: same merges derived in SQL, applied sequentially by
  // rank via an unrolled list_reduce chain — equivalent to the
  // kernel's greedy lowest-rank-first loop because char-pair merges
  // never create new single-char tokens (applicability only shrinks,
  // so priority order == sequential order; BpeEncodeSpec pins this
  // equivalence property plus the kernel corners).
  // ---------------------------------------------------------------
  def q162BpeApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wc = documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(MEMORY_AND_DISK)
    val merges: Seq[(String, String)] = wc.filter(length(col("w")) >= 2)
      .select(col("c"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(15)
      .collect().toSeq.map { r =>
        val p = r.getString(0) // 2 code points by construction
        val cut = p.offsetByCodePoints(0, 1)
        (p.substring(0, cut), p.substring(cut))
      }
    val enc = wc.select(col("w"), col("c"),
      graft.functions.tokenizer.bpeEncode(col("w"), merges).as("toks"))
    enc.select(col("w"), col("c"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"), countDistinct(col("w")).as("n_forms"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n_occ").desc, col("token"))).cast("long"))
      .filter(col("rnk") <= 25)
      .select(col("rnk"), col("token"), col("n_occ"), col("n_forms"))
      .orderBy("rnk")
  }

  /** The oracle's unrolled sequential-by-rank apply: step r fuses
    * every leftmost non-overlapping single-char adjacency equal to
    * merge r via a list_reduce fold (see q162's equivalence note).
    */
  val q162Sql: String = {
    val steps = (1 to 15).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""s$r AS (
         |  SELECT w, c, CASE WHEN pr IS NULL THEN toks ELSE
         |    list_reduce(list_transform(toks, t -> [t]), (acc, x) ->
         |      CASE WHEN length(acc[-1])=1 AND length(x[1])=1 AND acc[-1] || x[1] = pr
         |           THEN acc[1:length(acc)-1] || [acc[-1] || x[1]]
         |           ELSE acc || x END) END AS toks
         |  FROM $prev LEFT JOIN (SELECT pair AS pr FROM m WHERE rnk=$r) ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS (
       |  SELECT w, COUNT(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w
       |), p AS (
       |  SELECT substr(w, CAST(i AS INT), 2) AS pair, c
       |  FROM wc, unnest(range(1, length(w))) t(i)
       |  WHERE length(w) >= 2
       |), m AS (
       |  SELECT pair, row_number() OVER (ORDER BY CAST(SUM(c) AS BIGINT) DESC, pair) AS rnk
       |  FROM p GROUP BY pair QUALIFY rnk <= 15
       |), s0 AS (
       |  SELECT w, c,
       |    list_transform(range(length(w)), i -> substr(w, CAST(i+1 AS INT), 1)) AS toks
       |  FROM wc
       |),
       |$steps,
       |ex AS (SELECT w, c, unnest(toks) AS token FROM s15)
       |SELECT rnk, token, n_occ, n_forms FROM (
       |  SELECT token, CAST(SUM(c) AS BIGINT) AS n_occ,
       |    CAST(COUNT(DISTINCT w) AS BIGINT) AS n_forms,
       |    row_number() OVER (ORDER BY SUM(c) DESC, token) AS rnk
       |  FROM ex GROUP BY token
       |) WHERE rnk <= 25 ORDER BY rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // q167: bigram-LM surprisal scoring — q109's quality gate upgraded
  // from a unigram statistic to a CONDITIONAL model, the shape of
  // CCNet/KenLM perplexity filtering: score each document by how
  // surprising its token TRANSITIONS are under a bigram model
  // trained on the corpus itself. Exact-int64 portability (the q109
  // move): -log p(w2|w1) is replaced by the Laplace-smoothed inverse
  // conditional frequency in 4-dp fixed point,
  //   sp_e4 = ((c1(w1) + V) * 10000) div (c12(w1,w2) + 1),
  // which is monotone in 1/p̂(w2|w1), so rare-transition-heavy
  // documents score high exactly as under a float log — and both
  // engines agree bit-for-bit. Envelope: (c1+V)*10000 needs c1+V <
  // 9e14 — corpus token count, safe far past 100 TB of text.
  // Plan: bigrams explode ARRAY-SIDE (slice+zip over the word array
  // — no window, no per-doc shuffle); one corpus pass builds the
  // bigram/context tables (map-side combined, vocab²-bounded); the
  // scoring pass joins them BROADCAST. At 100 TB the bigram table
  // outgrows a broadcast: the same joins shuffle on (w1[, w2]) and
  // nothing else changes.
  // ---------------------------------------------------------------
  def q167BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bg = documents(s, dir)
      .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1"), col("b.w2"))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .persist(MEMORY_AND_DISK) // feeds c1, v, and the scoring join
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).as("v"))
    val perDoc = bg
      .join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("sp_e4", expr("((c1 + v) * 10000) div (c12 + 1)"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bg"), sum(col("sp_e4")).as("sum_sp"))
    // high-surprisal flag: avg sp > 31.0 (p75 of the per-doc range —
    // the cutoff separates; all-int64 comparison)
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        Relational.ratio4(sum(col("sum_sp")), sum(col("n_bg"))).as("avg_sp4"),
        sum((col("sum_sp") > col("n_bg") * 310000L).cast("long")).as("n_high"))
      .orderBy("lang")
  }

  val q167Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
      |), bg AS (
      |  SELECT doc_id, lang, ws[CAST(i+1 AS INT)] AS w1,
      |    ws[CAST(i+2 AS INT)] AS w2
      |  FROM toks, unnest(range(len(ws) - 1)) t(i)
      |), c12 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
      |), c1 AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
      |), vv AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM c12),
      |scored AS (
      |  SELECT b.doc_id, b.lang,
      |    ((c1.c1 + (SELECT v FROM vv)) * 10000) // (c12.c12 + 1) AS sp_e4
      |  FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      |), per_doc AS (
      |  SELECT doc_id, lang, COUNT(*) AS n_bg,
      |    CAST(SUM(sp_e4) AS BIGINT) AS sum_sp
      |  FROM scored GROUP BY 1, 2
      |)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
      |  ((20000*CAST(SUM(sum_sp) AS BIGINT) + CAST(SUM(n_bg) AS BIGINT))
      |    // (2*CAST(SUM(n_bg) AS BIGINT))) / 10000.0 AS avg_sp4,
      |  CAST(SUM(CASE WHEN sum_sp > n_bg * 310000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_high
      |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q168: rank-difference quality classifier — the fastText/DCLM
  // filter shape: train per-class token statistics on a labeled seed
  // (positive = lang 'en', negative = the rest), score every
  // document by accumulated per-token evidence, threshold into a
  // keep decision, and report the (source, actual, predicted)
  // confusion census. Exact-int64 portability (the q109 move):
  // Naive-Bayes log-odds log p̂(w|pos) - log p̂(w|neg) is replaced by
  // the FREQUENCY-RANK difference rank_pos(w) - rank_neg(w) — by
  // Zipf, rank is monotone in -log p̂, so tokens typical of the
  // positive corpus contribute negative evidence just as their
  // log-odds would, and every number is an integer. A token unseen
  // in a class gets rank |V_class|+1 (the +1-smoothing analog). The
  // decision rule (10·score < -n_toks, i.e. mean rank-diff < -0.1)
  // and the census sums are pure int64 — no division anywhere, so no
  // floor-vs-truncate hazard on the NEGATIVE scores (ADVICE r4's
  // ewma caveat is structural here, hence sums, not ratios).
  // Plan: two vocab-sized rank tables (per-class window over |V|
  // rows, never the corpus), both BROADCAST into one corpus scoring
  // pass. At 100 TB the vocab tables are ~millions of rows — still
  // broadcastable; past that the scoring join shuffles on `w` and
  // nothing else changes.
  // ---------------------------------------------------------------
  /** q168's per-document rank-difference scores — factored out so
    * q188's calibration audit grades the SAME classifier the
    * confusion query reports on. Returns (doc_id, lang, source,
    * score, n_toks); prediction rule: en iff score*10 < -n_toks.
    */
  private[queries] def rankScores(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(words(col("text"))).as("w"))
    def rankTable(flt: Column): DataFrame = toks.filter(flt)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("r",
        row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
      .select(col("w"), col("r"))
    val pos = rankTable(col("lang") === "en")
    val neg = rankTable(col("lang") =!= "en")
    val vp = pos.agg(count(lit(1)).as("vp"))
    val vn = neg.agg(count(lit(1)).as("vn"))
    toks
      .join(broadcast(pos.withColumnRenamed("r", "rp")), Seq("w"), "left")
      .join(broadcast(neg.withColumnRenamed("r", "rn")), Seq("w"), "left")
      .crossJoin(broadcast(vp)).crossJoin(broadcast(vn))
      .withColumn("d",
        coalesce(col("rp"), col("vp") + 1L) - coalesce(col("rn"), col("vn") + 1L))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum(col("d")).as("score"), count(lit(1)).as("n_toks"))
  }

  def q168RankClassifier(s: SparkSession, dir: String): DataFrame = {
    val perDoc = rankScores(s, dir)
    perDoc.groupBy(col("source"),
        (col("lang") === "en").cast("long").as("actual_en"),
        (col("score") * 10L < -col("n_toks")).cast("long").as("pred_en"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("sum_rankdiff"),
        sum(col("n_toks")).as("n_tokens"))
      .orderBy("source", "actual_en", "pred_en")
  }

  val q168Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), pos_rank AS (
      |  SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS r
      |  FROM toks WHERE lang = 'en' GROUP BY w
      |), neg_rank AS (
      |  SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS r
      |  FROM toks WHERE lang <> 'en' GROUP BY w
      |), vp AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM pos_rank),
      |vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM neg_rank),
      |scored AS (
      |  SELECT t.doc_id, t.lang, t.source,
      |    coalesce(p.r, (SELECT v FROM vp) + 1)
      |      - coalesce(n.r, (SELECT v FROM vn) + 1) AS d
      |  FROM toks t LEFT JOIN pos_rank p USING (w)
      |    LEFT JOIN neg_rank n USING (w)
      |), per_doc AS (
      |  SELECT doc_id, lang, source, CAST(SUM(d) AS BIGINT) AS score,
      |    COUNT(*) AS n_toks
      |  FROM scored GROUP BY 1, 2, 3
      |)
      |SELECT source, CAST(lang = 'en' AS BIGINT) AS actual_en,
      |  CAST(score * 10 < -n_toks AS BIGINT) AS pred_en,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(score) AS BIGINT) AS sum_rankdiff,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      |FROM per_doc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------
  // q188: classifier CALIBRATION audit — the reliability table
  // behind q168's confusion counts: q132 grades the language-ID's
  // CELLS, q168's output grades its AGGREGATE errors, but neither
  // says whether the classifier's CONFIDENCE means anything — the
  // property thresholding and cascade routing depend on. Bucket the
  // per-document decision margin (per-token, so long documents do
  // not masquerade as confident) into exact NTILE deciles (q81's
  // equi-depth discipline — identical tie/remainder semantics in
  // both engines under the (margin, doc_id) total order) and report
  // per decile: predicted-positive count, actual-positive count,
  // and CORRECT count. A calibrated classifier shows accuracy rising
  // monotonically away from the middle deciles; a flat curve means
  // the margin is noise and the q168 cutoff should not be trusted as
  // a ranking score. All integer: margin m = -(score*10 + n_toks)
  // (positive = predicts en, the exact q168 rule), per-token margin
  // mm = sign(m) * (1000*|m| DIV n_toks) — sign-safe fixed point
  // (q183's negative-division treatment).
  //
  // Scale shape: one pass over the per-doc score frame; the NTILE
  // window is a global sort of doc-cardinality rows — the exact-
  // decile price (q81); at 100 TB calibrate on a deterministic hash
  // sample (q47) or swap to q90's rank-cut two-pass form, the
  // schema is unchanged.
  // ---------------------------------------------------------------
  def q188CalibrationAudit(s: SparkSession, dir: String): DataFrame = {
    val pd = rankScores(s, dir)
      .withColumn("m", -(col("score") * 10L + col("n_toks")))
      .withColumn("mm",
        when(col("m") < 0L, lit(-1L)).otherwise(lit(1L)) *
          expr("(1000 * abs(m)) div n_toks"))
    pd.withColumn("decile",
        ntile(10).over(Window.orderBy(col("mm"), col("doc_id"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("m") > 0L).cast("long")).as("n_pred_en"),
        sum((col("lang") === "en").cast("long")).as("n_actual_en"),
        sum(((col("m") > 0L) === (col("lang") === "en")).cast("long"))
          .as("n_correct"),
        min(col("mm")).as("min_mm"), max(col("mm")).as("max_mm"))
      .orderBy("decile")
  }

  val q188Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), pos_rank AS (
      |  SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS r
      |  FROM toks WHERE lang = 'en' GROUP BY w
      |), neg_rank AS (
      |  SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS r
      |  FROM toks WHERE lang <> 'en' GROUP BY w
      |), vp AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM pos_rank),
      |vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM neg_rank),
      |scored AS (
      |  SELECT t.doc_id, t.lang,
      |    coalesce(p.r, (SELECT v FROM vp) + 1)
      |      - coalesce(n.r, (SELECT v FROM vn) + 1) AS d
      |  FROM toks t LEFT JOIN pos_rank p USING (w)
      |    LEFT JOIN neg_rank n USING (w)
      |), per_doc AS (
      |  SELECT doc_id, lang, CAST(SUM(d) AS BIGINT) AS score,
      |    COUNT(*) AS n_toks
      |  FROM scored GROUP BY 1, 2
      |), marg AS (
      |  SELECT doc_id, lang, -(score * 10 + n_toks) AS m,
      |    CASE WHEN -(score * 10 + n_toks) < 0 THEN -1 ELSE 1 END
      |      * ((1000 * abs(-(score * 10 + n_toks))) // n_toks) AS mm
      |  FROM per_doc
      |), dec AS (
      |  SELECT *, CAST(NTILE(10) OVER (ORDER BY mm, doc_id) AS BIGINT)
      |    AS decile
      |  FROM marg
      |)
      |SELECT decile, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
      |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_actual_en,
      |  CAST(SUM(CASE WHEN (m > 0) = (lang = 'en') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  MIN(mm) AS min_mm, MAX(mm) AS max_mm
      |FROM dec GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  // q169: WordPiece tokenizer APPLY — the OTHER tokenizer-inference
  // family next to q162's BPE merge replay: greedy longest-match
  // segmentation against a trained subword vocabulary (the
  // WordPiece/SentencePiece inference rule, minus the continuation-
  // prefix bookkeeping). Train: top-15 character bigrams + top-10
  // trigrams by corpus-weighted frequency (q111's counting, per
  // piece length); single code points are always valid fallbacks, so
  // segmentation is total. The vocab is collected to the driver ON
  // PURPOSE (a tokenizer vocabulary is a trained artifact, ~30k
  // pieces real-world) and ships inside the codegen'd
  // WordPieceEncode expression — O(1) hash membership per candidate,
  // zero joins. Apply runs over the DISTINCT-word table weighted by
  // count (the |V|-not-|corpus| optimization), so the plan is one
  // corpus pass -> vocab aggregate -> codegen'd encode -> explode ->
  // token census. Joinless; pinned in PlanQualitySpec. Oracle: same
  // vocab derived in SQL, segmentation replayed by a recursive CTE
  // that advances a cursor by the longest matching piece
  // (trigram-first, matching the kernel's longest-match order).
  // ---------------------------------------------------------------
  def q169WordpieceApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wc = documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist(MEMORY_AND_DISK)
    def topPieces(len: Int, k: Int): Seq[String] = wc
      .filter(length(col("w")) >= len)
      .select(col("c"),
        explode(transform(sequence(lit(1), length(col("w")) - (len - 1)),
          i => col("w").substr(i, lit(len)))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("piece")).limit(k)
      .collect().toSeq.map(_.getString(0))
    val vocab = topPieces(2, 15) ++ topPieces(3, 10)
    val enc = wc.select(col("w"), col("c"),
      graft.functions.tokenizer.wordpieceEncode(col("w"), vocab).as("toks"))
    enc.select(col("w"), col("c"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"), countDistinct(col("w")).as("n_forms"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n_occ").desc, col("token"))).cast("long"))
      .filter(col("rnk") <= 25)
      .select(col("rnk"), col("token"), col("n_occ"), col("n_forms"))
      .orderBy("rnk")
  }

  val q169Sql: String =
    """WITH RECURSIVE wc AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w
      |), cand AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS piece,
      |    CAST(SUM(c) AS BIGINT) AS n, 2 AS len
      |  FROM wc, unnest(range(1, length(w))) t(i) WHERE length(w) >= 2
      |  GROUP BY 1
      |  UNION ALL
      |  SELECT substr(w, CAST(i AS INT), 3) AS piece,
      |    CAST(SUM(c) AS BIGINT) AS n, 3 AS len
      |  FROM wc, unnest(range(1, length(w) - 1)) t(i) WHERE length(w) >= 3
      |  GROUP BY 1
      |), vocab AS (
      |  SELECT piece FROM (
      |    SELECT piece, len,
      |      row_number() OVER (PARTITION BY len ORDER BY n DESC, piece) AS rk
      |    FROM cand) WHERE (len = 2 AND rk <= 15) OR (len = 3 AND rk <= 10)
      |), seg AS (
      |  SELECT w, c, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM wc
      |  UNION ALL
      |  SELECT w, c, pos + length(piece), toks || [piece] FROM (
      |    SELECT w, c, pos, toks,
      |      coalesce(
      |        CASE WHEN EXISTS (SELECT 1 FROM vocab v
      |               WHERE v.piece = substr(seg.w, CAST(seg.pos AS INT), 3))
      |             THEN substr(w, CAST(pos AS INT), 3) END,
      |        CASE WHEN EXISTS (SELECT 1 FROM vocab v
      |               WHERE v.piece = substr(seg.w, CAST(seg.pos AS INT), 2))
      |             THEN substr(w, CAST(pos AS INT), 2) END,
      |        substr(w, CAST(pos AS INT), 1)) AS piece
      |    FROM seg WHERE pos <= length(w))
      |), fin AS (
      |  SELECT w, c, toks FROM seg WHERE pos = length(w) + 1
      |), ex AS (SELECT w, c, unnest(toks) AS token FROM fin)
      |SELECT rnk, token, n_occ, n_forms FROM (
      |  SELECT token, CAST(SUM(c) AS BIGINT) AS n_occ,
      |    CAST(COUNT(DISTINCT w) AS BIGINT) AS n_forms,
      |    row_number() OVER (ORDER BY SUM(c) DESC, token) AS rnk
      |  FROM ex GROUP BY token
      |) WHERE rnk <= 25 ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------
  // q173: MULTI-PATTERN blocklist scan — the one-pass Aho-Corasick
  // needle audit (`functions/MultiMatch.scala`) behind every
  // blocklist/PII/compliance scrub: per-needle total occurrences and
  // docs-hit over the corpus with the text read ONCE, where the
  // naive form re-reads the 100-TB corpus once per needle (regex or
  // replace per blocklist entry). Runs ops.blocklistAudit: needles
  // are config (a blocklist), compiled into the expression at
  // construction — no joins. Nested needles ("hash join" vs "join")
  // count independently via the automaton's fail-link output
  // closure; overlapping occurrences all count — matching the
  // position-scan oracle exactly.
  // ---------------------------------------------------------------
  private[graft] val BlockNeedles: Seq[String] = Seq(
    "hash join", "join", "sort merge", "fast scan", "slow query",
    "big table", "small batch", "data stream", "key value",
    "row group", "window agg", "scan scan")

  def q173BlocklistScan(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.blocklistAudit(documents(s, dir), "text", BlockNeedles)
      .orderBy("needle_id")

  val q173Sql: String = {
    val values = BlockNeedles.zipWithIndex
      .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
    s"""WITH needles AS (
       |  SELECT CAST(nid AS BIGINT) AS nid, needle
       |  FROM (VALUES $values) AS t(nid, needle)
       |), pos AS (
       |  SELECT CAST(p AS INT) AS p FROM unnest(range(1,
       |    (SELECT MAX(length(text)) + 1 FROM documents))) t(p)
       |), hit AS (
       |  SELECT d.doc_id, n.nid
       |  FROM documents d CROSS JOIN needles n JOIN pos
       |    ON pos.p + length(n.needle) - 1 <= length(d.text)
       |   AND substr(d.text, pos.p, length(n.needle)) = n.needle
       |), agg AS (
       |  SELECT nid, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_matches
       |  FROM hit GROUP BY nid
       |)
       |SELECT n.nid AS needle_id, n.needle,
       |  COALESCE(a.n_docs, 0) AS n_docs,
       |  COALESCE(a.n_matches, 0) AS n_matches
       |FROM needles n LEFT JOIN agg a ON a.nid = n.nid
       |ORDER BY needle_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q197: VOCABULARY GROWTH curve (Heaps' law audit) — q65 ranks the
  // FINAL vocabulary by frequency; this tracks how the vocabulary
  // ACCUMULATES over ingestion order, per source: at each decile of
  // the source's doc stream (ordered by doc_id), the cumulative
  // token count, cumulative distinct-type count, and type-token
  // ratio (ops.vocabGrowth). The curve is the corpus-curation
  // saturation signal: a source whose growth curve flattens early is
  // repeating itself (crawl loops, boilerplate farms) and deserves a
  // lower mixture weight (q150) long before near-dup dedup (q23)
  // would prove it pairwise. New-type attribution is exact and
  // order-deterministic: a type counts at the FIRST position
  // (row_number by doc_id) it appears in, so cum_vocab is a plain
  // running sum — no windowed count-distinct anywhere.
  //
  // Scale shape: one exchange on `source` carries the position
  // window and both running sums; the first-occurrence table is one
  // partial-aggregated (source, type) min. The decile explode (×10)
  // happens AFTER the per-position frame is reduced to one row per
  // doc. Output is 10 rows per source at any corpus size.
  // ---------------------------------------------------------------
  def q197VocabGrowth(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.vocabGrowth(documents(s, dir), "source", col("doc_id"),
      col("text"))

  val q197Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS ws,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS pos,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokcnt
      |  FROM documents
      |), fw AS (
      |  SELECT source, w, MIN(pos) AS fpos FROM (
      |    SELECT source, pos, unnest(ws) AS w FROM d
      |  ) GROUP BY source, w
      |), nt AS (
      |  SELECT source, fpos AS pos, COUNT(*) AS nt FROM fw
      |  GROUP BY source, fpos
      |), pp AS (
      |  SELECT d.source, d.pos,
      |    SUM(d.tokcnt) OVER w AS cum_tokens,
      |    SUM(COALESCE(nt.nt, 0)) OVER w AS cum_vocab,
      |    COUNT(*) OVER (PARTITION BY d.source) AS d_total
      |  FROM d LEFT JOIN nt ON nt.source = d.source AND nt.pos = d.pos
      |  WINDOW w AS (PARTITION BY d.source ORDER BY d.pos
      |    ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT source, CAST(dec AS BIGINT) AS decile, pos AS n_docs,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  CAST(cum_vocab AS BIGINT) AS cum_vocab,
      |  ((20000*CAST(cum_vocab AS BIGINT) + CAST(cum_tokens AS BIGINT))
      |    // (2*CAST(cum_tokens AS BIGINT))) / 10000.0 AS ttr_4
      |FROM pp, (SELECT unnest(range(1, 11)) AS dec)
      |WHERE pos = (dec * d_total) // 10
      |ORDER BY source, decile""".stripMargin

  // ---------------------------------------------------------------
  // q213: source n-gram NOVELTY — the cross-source complement of
  // q197's within-source saturation curve: what fraction of a
  // source's distinct 3-word shingles appears in NO other source?
  // A low unique-share flags a mirror/boilerplate feed whose
  // "contribution" is re-serialized common text (demote before
  // pairwise dedup spends candidates on it); a high share marks
  // genuinely novel material. Exact arithmetic: distinct (source,
  // shingle) pairs, a shingle's source-count, ratio4 half-up.
  //
  // Scale shape: one explode → distinct partial-agg (the same
  // two-exchange shape as q205's document-frequency pass), then a
  // shingle-keyed join back and a source-sized aggregate. Nothing
  // is pairwise — this is the linear-cost screen that runs BEFORE
  // quadratic-candidate machinery.
  // ---------------------------------------------------------------
  def q213SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val sg = documents(s, dir)
      .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
      .distinct()
    val spread = sg.groupBy(col("g")).agg(count(lit(1)).as("ns"))
    sg.join(spread, "g")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("ns") === 1L, 1)).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        Relational.ratio4(col("n_unique"), col("n_grams")).as("unique_4"))
      .orderBy("source")
  }

  val q213Sql: String =
    s"""WITH sg AS (
       |  SELECT DISTINCT source, g
       |  FROM (SELECT source, unnest(${sqlShingles(3)}) AS g FROM documents)
       |), spread AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS ns FROM sg GROUP BY g
       |), a AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(COUNT(CASE WHEN ns = 1 THEN 1 END) AS BIGINT) AS n_unique
       |  FROM sg JOIN spread USING (g) GROUP BY source
       |)
       |SELECT source, n_grams, n_unique,
       |  ((20000 * n_unique + n_grams) // (2 * n_grams)) / 10000.0 AS unique_4
       |FROM a ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_source_novelty" -> q213SourceNovelty _,
    "q197_vocab_growth" -> q197VocabGrowth _,
    "q188_calibration_audit" -> q188CalibrationAudit _,
    "q173_blocklist_scan" -> q173BlocklistScan _,
    "q167_bigram_surprisal" -> q167BigramSurprisal _,
    "q168_rank_classifier" -> q168RankClassifier _,
    "q169_wordpiece_apply" -> q169WordpieceApply _,
    "q162_bpe_apply" -> q162BpeApply _,
    "q156_word_concentration" -> q156WordConcentration _,
    "q147_dedup_yield" -> q147DedupYield _,
    "q148_split_assign" -> q148SplitAssign _,
    "q141_lexical_drift" -> q141LexicalDrift _,
    "q116_cdc_chunking" -> q116CdcChunking _,
    "q132_lang_confusion" -> q132LangConfusion _,
    "q109_unigram_surprisal" -> q109UnigramSurprisal _,
    "q111_bpe_merge" -> q111BpeMergeStep _,
    "q71_chunking" -> q71Chunking _,
    "q67_repetition_filter" -> q67RepetitionFilter _,
    "q64_quality_gate" -> q64QualityGate _,
    "q65_vocab_coverage" -> q65VocabCoverage _,
    "q49_corpus_pipeline" -> q49CorpusPipeline _,
    "q46_edit_distance" -> q46EditDistance _,
    "q47_hash_sample" -> q47HashSample _,
    "q38_tfidf" -> q38Tfidf _,
    "q29_lang_id" -> q29LangId _,
    "q30_text_quality" -> q30TextQuality _,
    "q31_token_stats" -> q31TokenStats _,
    "q32_fingerprint" -> q32Fingerprint _)

  val oracles: Map[String, String] = Map(
    "q213_source_novelty" -> q213Sql,
    "q197_vocab_growth" -> q197Sql,
    "q188_calibration_audit" -> q188Sql,
    "q173_blocklist_scan" -> q173Sql,
    "q167_bigram_surprisal" -> q167Sql,
    "q168_rank_classifier" -> q168Sql,
    "q169_wordpiece_apply" -> q169Sql,
    "q162_bpe_apply" -> q162Sql,
    "q156_word_concentration" -> q156Sql,
    "q147_dedup_yield" -> q147Sql,
    "q148_split_assign" -> q148Sql,
    "q141_lexical_drift" -> q141Sql,
    "q116_cdc_chunking" -> q116Sql,
    "q132_lang_confusion" -> q132Sql,
    "q109_unigram_surprisal" -> q109Sql,
    "q111_bpe_merge" -> q111Sql,
    "q71_chunking" -> q71Sql,
    "q67_repetition_filter" -> q67Sql,
    "q64_quality_gate" -> q64Sql,
    "q65_vocab_coverage" -> q65Sql,
    "q49_corpus_pipeline" -> q49Sql,
    "q46_edit_distance" -> q46Sql,
    "q47_hash_sample" -> q47Sql,
    "q38_tfidf" -> q38Sql,
    "q29_lang_id" -> q29Sql,
    "q30_text_quality" -> q30Sql,
    "q31_token_stats" -> q31Sql,
    "q32_fingerprint" -> q32Sql)
}
