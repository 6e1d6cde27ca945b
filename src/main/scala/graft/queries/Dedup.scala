package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import Hashing._

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline surface (SURVEY.md §2.2 EXT): exact dedup,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is signature → band/block →
  * bucket join — no all-pairs comparison anywhere. Signatures are pure
  * codegen'd map stages (Hashing.scala); the only shuffles are the
  * bucket joins on band/chunk/block keys, whose fan-in is bounded by
  * design (near-dup buckets are small; skewed buckets would be salted
  * — documented, not needed at these SFs).
  *
  * Oracle parity: signatures are md5-based (identical in DuckDB), so
  * even the hash-based variants are full hash-match gated.
  */
object Dedup {

  // ---------------------------------------------------------------
  // q22: exact dedup — hash-groupBy on the text, keep the minimum
  // doc_id as the canonical survivor (deterministic, unlike a bare
  // dropDuplicates which keeps an arbitrary row per key).
  // ---------------------------------------------------------------
  def q22DedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"), md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_docs"),
        (sum(col("n_copies")) - count(lit(1))).as("n_removed"),
        min(col("keep_id")).as("min_keep_id"))
      .orderBy("lang")

  val q22Sql: String =
    """SELECT lang, COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_removed, MIN(keep_id) AS min_keep_id
      |FROM (SELECT lang, md5(text) AS text_hash, MIN(doc_id) AS keep_id,
      |             COUNT(*) AS n_copies
      |      FROM documents GROUP BY lang, md5(text))
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q23: MinHash + LSH near-dup pairs. 12 MinHash values over word
  // 3-gram shingles, banded 4 x 3; candidate pairs share at least one
  // band key; candidates are verified with exact Jaccard >= 0.5.
  // Plan (ops.nearDupPairs): one scan computes the native signature
  // and explodes the 4 band keys, one shuffle groups each band bucket
  // with its members' text, the pairs are formed and verified inside
  // the bucket, and a distinct drops pairs that met in several bands.
  // No self-join, no verify join, no all-pairs stage.
  // ---------------------------------------------------------------
  // band geometry lives in Hashing (single source of truth shared
  // with api.ops); these aliases keep the query code terse
  private val K = Hashing.MinhashK
  private val R = Hashing.BandRows
  private val B = Hashing.BandCount

  private def bandStructsOf(msig: Column): Column = Hashing.bandStructs(msig)

  /** DuckDB twin of [[Hashing.bandStructs]]: one SELECT per band over
    * a CTE exposing doc_id and minhash columns m0..m11, UNION ALL'd. */
  private def sqlBandSelects(fromCte: String): String =
    (0 until B).map { b =>
      val parts = (0 until R).map(r => s"CAST(m${R * b + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band_idx, md5(${parts.mkString(" || ',' || ")}) AS band_key FROM $fromCte"
    }.mkString("\n  UNION ALL\n  ")

  def q23MinhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.nearDupPairs(documents(s, dir), "doc_id", "text", 0.5)
      .select(col("i"), col("j"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("i", "j")

  val q23Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    val bandKeys = sqlBandSelects("sig")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), sig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandKeys
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |)
       |SELECT i, j,
       |  ROUND(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |        len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
       |FROM cand
       |JOIN sh sa ON sa.doc_id = i
       |JOIN sh sb ON sb.doc_id = j
       |WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |      len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
       |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------
  // q24: SimHash near-dup pairs, EXACT hamming <= 3 semantics at
  // scale: 60-bit frequency-weighted SimHash, blocked on the four
  // 15-bit chunks — by pigeonhole, two signatures within hamming
  // distance 3 must agree on >= 1 chunk, so the chunk-bucket join
  // finds ALL qualifying pairs without an all-pairs stage. The oracle
  // brute-forces the same definition.
  // ---------------------------------------------------------------
  def q24SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    // signatures via the NATIVE SimHash60 expression: the 60-bit
    // frequency-weighted signature is computed per row inside the
    // scan's codegen loop (one md5 per word, bit counts JVM-local) —
    // ZERO shuffle, vs the declarative explode + 60 partial-aggregate
    // twin that exchanges every word in the corpus
    // (TextHashExpressionsSpec pins the two forms equal).
    val sig = documents(s, dir)
      .select(col("doc_id"),
        graft.functions.texthash.simhash60(col("text")).as("sig"))
    val chunks = sig.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("c"), chunk15(col("sig"), c).as("key"))): _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.c"), col("ck.key"))
    val a = chunks.alias("a")
    val b = chunks.alias("b")
    a.join(b, col("a.c") === col("b.c") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("i", "j")
  }

  val q24Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id, $sqlWordHashes AS hs FROM documents
       |), s AS (
       |  SELECT doc_id, $sqlSimhashTerms AS sig FROM h
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------
  // q25: prefix-filtered exact n-gram Jaccard: candidates must share
  // their minimum shingle hash (the classic prefix-filter — near-dups
  // almost always share the global min shingle; random pairs almost
  // never do), then exact Jaccard >= 0.2. Deterministic blocking that
  // both engines replicate => exact output parity, and candidate
  // fan-out stays tiny at any scale (vs 25M all-pairs at sf0.1).
  // ---------------------------------------------------------------
  def q25NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // cached: both sides of the self-join read it.
    // Materialized EAGERLY: without the count(), the join's two scan
    // tasks race to compute-and-cache the same partitions ("Block
    // rdd_N already exists" churn + duplicated shingle work).
    val d = documents(s, dir).select(col("doc_id"), col("lang"),
        shingles(col("text"), 3).as("sh"))
      .withColumn("mk", minhash(col("sh"), 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d)
    val a = d.alias("a")
    val b = d.alias("b")
    a.join(b, col("a.mk") === col("b.mk") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("jac", jaccard(col("a.sh"), col("b.sh")))
      .filter(col("jac") >= 0.2)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.lang").as("lang"), round(col("jac"), 4).as("jaccard"))
      .orderBy("i", "j")
  }

  val q25Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, sh, ${sqlMinhash("sh", 0)} AS mk
       |  FROM (SELECT doc_id, lang, ${sqlShingles(3)} AS sh FROM documents)
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j, a.lang AS lang,
       |  ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
       |        len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
       |FROM d a JOIN d b
       |  ON a.mk = b.mk AND a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
       |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------
  // q205: EXACT similarity self-join via PPJOIN-style PREFIX
  // filtering — the no-false-negatives sibling of q23: banded LSH is
  // probabilistic (a pair at exactly the 0.5 threshold is caught
  // with probability 1-(1-0.5³)⁴ ≈ 0.41 — q206 measures it), and
  // when the pipeline contract is "EVERY pair ≥ τ", the classic
  // answer is prefix filtering (Chaudhuri et al. 2006 / Xiao et
  // al.'s PPJoin): order all shingles by a GLOBAL total order
  // (document frequency asc, then hash — rare shingles first, which
  // is what keeps the candidate join small), and explode only each
  // document's first |x| − ⌈τ·|x|⌉ + 1 shingles. The prefix lemma
  // guarantees any pair with J ≥ τ shares at least one element in
  // BOTH prefixes, so the prefix equi-join is a LOSSLESS candidate
  // generator; candidates are verified with the exact intersection
  // (native ArrayIntersectSize codegen — no intermediate array) and
  // integer cross-multiplied Jaccard (10⁴·c vs τ·(|A|+|B|−c)).
  // Brute-force equality on the full sf0.001 all-pairs space pinned
  // in ExtOperatorsSpec; oracle = brute-force all-pairs.
  //
  // Scale shape: ONE corpus pass builds (df-ranked) shingle
  // prefixes (two partial-agg shuffles: doc-frequency, then rank);
  // the candidate join is a shingle-keyed equi-join whose fan-out is
  // bounded by PREFIX shingle frequency — the global rare-first
  // order makes hot shingles land in suffixes, exactly why PPJoin
  // scales where a naive shared-shingle join explodes; the verify
  // join is candidate-bounded. No all-pairs stage anywhere.
  // ---------------------------------------------------------------
  private val SsjTauE4 = 5000L // tau = 0.5 in e4 fixed point

  def q205PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d = documents(s, dir)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .persist(MEMORY_AND_DISK)
    touch(d)
    // the candidate-pair count rides the query's OWN materialization
    // as a lazy observe() (graft.Loop.riderCount) and lands in
    // bench_detail's "rounds" field: the number that tells a reader
    // whether the PPJoin filters are doing their job. Lazy on
    // purpose — eagerly checkpointing the candidate table just to
    // count it stored the query's largest intermediate in the
    // BlockManager, where it previously stayed fused into the verify
    // join's single execution.
    var readCand: () => Option[Long] = () => None
    val out = ssjPairs(d, SsjTauE4, c => {
      val (obs, rd) = graft.Loop.riderCount(c)
      readCand = rd
      obs
    })
    val ck = out.localCheckpoint(true)
    // plain record: ssj_cand is a rider-read candidate COUNT, not a
    // loop (see lp_cand in Mining) — no _wms/_tms keys
    readCand().foreach(n => graft.LoopStats.record("ssj_cand", n))
    d.unpersist(blocking = false)
    ck
  }

  /** q205's core over a caller-persisted (doc_id, sh, sz) frame
    * (ops.prefixJoinPairs and the PlanQualitySpec pin call it).
    * `candHook` wraps the distinct candidate-pair frame before
    * verification — q205PrefixJoin injects an observe() there so the
    * candidate count rides the job that runs anyway (no second pass).
    *
    * Candidate pruning = full PPJoin's three filters, all lossless:
    * - prefix filter: only the first sz − ⌈τ·sz⌉ + 1 shingles (in
    *   the global rare-first order) generate join keys;
    * - length filter: J ≤ min/max, so J ≥ τ needs 10⁴·min(sza,szb)
    *   ≥ τ·max(sza,szb) — a free predicate on the candidate join;
    * - positional filter: for the FIRST shared prefix shingle (ranks
    *   i in a, j in b) every other common shingle ranks after it in
    *   BOTH docs (ranks are order-consistent with the one global
    *   order), so c ≤ 1 + min(sza−i, szb−j) =: ub, and J ≥ τ ⟺
    *   c·(10⁴+τ) ≥ τ·(sza+szb) needs ub·(10⁴+τ) ≥ τ·(sza+szb). A
    *   true pair always survives via its first-shared-shingle row,
    *   so filtering per-row BEFORE the distinct loses nothing.
    */
  private[graft] def ssjPairs(d: DataFrame, tauE4: Long,
      candHook: DataFrame => DataFrame = identity): DataFrame = {
    val ex = d.select(col("doc_id"), col("sz"), explode(col("sh")).as("g"))
    // global rare-first total order: (document frequency, shingle)
    val df = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // rank each doc's shingles by the global order; keep the prefix
    // p = sz - ceil(tau*sz) + 1   (ceil via (sz*tau + 9999) div 10000)
    val pfx = ex.join(df, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))).cast("long"))
      .withColumn("p",
        col("sz") - expr(s"(sz * $tauE4 + 9999) div 10000") + 1L)
      .filter(col("rk") <= col("p"))
      .select(col("doc_id"), col("g"), col("rk"), col("sz"))
    val cand = pfx.alias("a").join(pfx.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: 10^4 * min(sz) >= tau * max(sz)
          lit(10000L) * col("b.sz") >= lit(tauE4) * col("a.sz") &&
          lit(10000L) * col("a.sz") >= lit(tauE4) * col("b.sz") &&
          // positional filter: ub * (10^4 + tau) >= tau * (sza + szb)
          (lit(1L) + least(col("a.sz") - col("a.rk"),
            col("b.sz") - col("b.rk"))) * lit(10000L + tauE4) >=
            lit(tauE4) * (col("a.sz") + col("b.sz")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    candHook(cand)
      .join(d.select(col("doc_id").as("i"), col("sh").as("sha"),
        col("sz").as("sza")), "i")
      .join(d.select(col("doc_id").as("j"), col("sh").as("shb"),
        col("sz").as("szb")), "j")
      .withColumn("c", graft.functions.setcard
        .intersectSize(col("sha"), col("shb")).cast("long"))
      .withColumn("uni", col("sza") + col("szb") - col("c"))
      // J >= tau without division: 10^4 * c >= tau_e4 * union
      .filter(lit(10000L) * col("c") >= lit(tauE4) * col("uni"))
      .withColumn("jac_e4", expr("(10000 * c) div uni"))
      .select(col("i"), col("j"), col("c").as("n_inter"),
        col("uni").as("n_union"), col("jac_e4"))
      .orderBy("i", "j")
  }

  val q205Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS sz
       |  FROM (SELECT doc_id, ${Hashing.sqlShingles(3)} AS sh FROM documents)
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
       |  a.sz + b.sz - len(list_intersect(a.sh, b.sh)) AS n_union,
       |  (10000 * CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT))
       |    // (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) AS jac_e4
       |FROM d a JOIN d b ON a.doc_id < b.doc_id
       |WHERE 10000 * len(list_intersect(a.sh, b.sh))
       |  >= $SsjTauE4 * (a.sz + b.sz - len(list_intersect(a.sh, b.sh)))
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------
  // q211: asymmetric CONTAINMENT join — the quote/subset detector
  // Jaccard structurally CANNOT be (q205/q23 score |A∩B|/|A∪B|, so
  // a short document fully embedded in a long one scores LOW —
  // exactly the pairs a quote-extraction or nested-boilerplate pass
  // needs): directed containment C(i→j) = |Aᵢ∩Aⱼ| / |Aᵢ| ≥ τ over
  // 3-word shingles. Candidates are lossless by the ASYMMETRIC
  // prefix lemma: order shingles by the q205 global rare-first
  // order; if none of i's first |Aᵢ| − ⌈τ|Aᵢ|⌉ + 1 shingles appears
  // ANYWHERE in j, the common count is at most ⌈τ|Aᵢ|⌉ − 1 < τ|Aᵢ|.
  // So the probe side explodes only prefixes while the INDEX side
  // carries all shingles (the standard containment-join schema), and
  // the size filter 10⁴·|Aⱼ| ≥ τ·|Aᵢ| rides the candidate join
  // (c ≤ |Aⱼ| forces it). Verification reuses the codegen
  // ArrayIntersectSize. Oracle: brute-force directed all-pairs.
  //
  // Scale shape: probe fan-out is prefix-bounded exactly as q205;
  // the index side is the corpus's shingle explode — one pass, no
  // all-pairs stage; the verify join is candidate-bounded.
  // ---------------------------------------------------------------
  private val CntTauE4 = 8000L // tau = 0.8 containment

  def q211ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d = documents(s, dir)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .filter(col("sz") > 0L) // containment of an empty set is vacuous
      .persist(MEMORY_AND_DISK)
    touch(d)
    val out = containmentPairs(d, CntTauE4)
    val ck = out.localCheckpoint(true)
    d.unpersist(blocking = false)
    ck
  }

  /** q211's core over a caller-persisted (doc_id, sh, sz > 0) frame. */
  private[graft] def containmentPairs(d: DataFrame, tauE4: Long): DataFrame = {
    val ex = d.select(col("doc_id"), col("sz"), explode(col("sh")).as("g"))
    val df = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // probe side: i's rare-first prefix, p = sz - ceil(tau*sz) + 1
    val pfx = ex.join(df, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))).cast("long"))
      .withColumn("p",
        col("sz") - expr(s"(sz * $tauE4 + 9999) div 10000") + 1L)
      .filter(col("rk") <= col("p"))
      .select(col("doc_id").as("i"), col("g"), col("sz").as("szi"))
    // index side: ALL of j's shingles; size filter rides the join
    val cand = pfx.join(
        ex.select(col("doc_id").as("j"), col("g"), col("sz").as("szj")),
        Seq("g"))
      .filter(col("i") =!= col("j") &&
        lit(10000L) * col("szj") >= lit(tauE4) * col("szi"))
      .select(col("i"), col("j")).distinct()
    cand
      .join(d.select(col("doc_id").as("i"), col("sh").as("sha"),
        col("sz").as("sz_i")), "i")
      .join(d.select(col("doc_id").as("j"), col("sh").as("shb"),
        col("sz").as("sz_j")), "j")
      .withColumn("n_inter", graft.functions.setcard
        .intersectSize(col("sha"), col("shb")).cast("long"))
      .filter(lit(10000L) * col("n_inter") >= lit(tauE4) * col("sz_i"))
      .withColumn("cont_e4", expr("(10000 * n_inter) div sz_i"))
      .select(col("i"), col("j"), col("n_inter"), col("sz_i"),
        col("sz_j"), col("cont_e4"))
      .orderBy("i", "j")
  }

  val q211Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS sz
       |  FROM (SELECT doc_id, ${Hashing.sqlShingles(3)} AS sh FROM documents)
       |  WHERE len(sh) > 0
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
       |  a.sz AS sz_i, b.sz AS sz_j,
       |  (10000 * CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT))
       |    // a.sz AS cont_e4
       |FROM d a JOIN d b ON a.doc_id <> b.doc_id
       |WHERE 10000 * len(list_intersect(a.sh, b.sh)) >= $CntTauE4 * a.sz
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------
  // q206: LSH RECALL audit — the question q143 (estimator accuracy
  // ON candidates) structurally cannot ask: what did the banding
  // MISS? Ground truth = q205's exact prefix-join pair set (lossless
  // by the prefix lemma); candidates = q23's banded pairs BEFORE
  // verification; the report buckets true pairs by exact Jaccard
  // (e4 integer div — engine-identical bucketing) and counts how
  // many each bucket the bands surfaced. The theoretical capture at
  // J = s is 1 − (1 − s³)⁴ (r = 3 rows × b = 4 bands): ≈ 0.41 at
  // the 0.5 threshold and ≈ 1 at 0.9+ — the measured column is the
  // empirical side of that curve, and a bucket whose recall falls
  // under it flags a banding bug (correlated permutations, broken
  // keys) that NO candidate-side audit can see. Buckets with zero
  // true pairs stay present (0, 0, NULL) so the report shape is
  // stable while the corpus evolves.
  //
  // Scale shape: the truth side is q205's pipeline (prefix-bounded),
  // the candidate side q23's (band-keyed) — both linear-ish corpus
  // passes with key-bounded joins; the audit join is
  // true-pair-bounded.
  // ---------------------------------------------------------------
  def q206LshRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = q205PrefixJoin(s, dir) // checkpointed (i, j, .., jac_e4)
    val sig = documents(s, dir)
      .select(col("doc_id"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
    val bands = sig.select(col("doc_id"),
      explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val agg = truth
      .join(cand.withColumn("caught", lit(1L)), Seq("i", "j"), "left")
      .withColumn("jbkt", expr("jac_e4 div 1000"))
      .groupBy(col("jbkt"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
    val out = s.range(5, 11).select(col("id").as("jbkt"))
      .join(agg, Seq("jbkt"), "left")
      .select(col("jbkt"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .withColumn("recall_4",
        when(col("n_true") > 0L, Relational.ratio4(col("n_caught"), col("n_true")))
          .otherwise(lit(null).cast("double")))
      .orderBy("jbkt")
    val ck = out.localCheckpoint(true)
    graft.Ck.release(truth)
    ck
  }

  val q206Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    val bandKeys = sqlBandSelects("sig")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |), d AS (
       |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS sz FROM sh
       |), truth AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |    (10000 * CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT))
       |      // (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) AS jac_e4
       |  FROM d a JOIN d b ON a.doc_id < b.doc_id
       |  WHERE 10000 * len(list_intersect(a.sh, b.sh))
       |    >= $SsjTauE4 * (a.sz + b.sz - len(list_intersect(a.sh, b.sh)))
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), sig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandKeys
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), agg AS (
       |  SELECT t.jac_e4 // 1000 AS jbkt, COUNT(*) AS n_true,
       |    CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_caught
       |  FROM truth t LEFT JOIN cand c ON c.i = t.i AND c.j = t.j
       |  GROUP BY t.jac_e4 // 1000
       |)
       |SELECT CAST(b.b AS BIGINT) AS jbkt,
       |  COALESCE(n_true, 0) AS n_true,
       |  COALESCE(n_caught, 0) AS n_caught,
       |  CASE WHEN COALESCE(n_true, 0) > 0
       |    THEN ((20000*COALESCE(n_caught, 0) + n_true) // (2*n_true)) / 10000.0
       |    ELSE NULL END AS recall_4
       |FROM (SELECT unnest(range(5, 11)) AS b) b
       |LEFT JOIN agg ON agg.jbkt = b.b
       |ORDER BY jbkt""".stripMargin
  }

  // ---------------------------------------------------------------
  // q48: near-dup CLUSTERS — the step after pair detection: the
  // transitive closure of the q23 MinHash-LSH pairs, each document
  // labeled with its component's minimum doc_id and flagged canonical
  // (what a real pipeline keeps). Distributed union-find contraction:
  // each round runs a union-find WITH path compression inside every
  // edge partition (mapPartitions — genuine per-partition imperative
  // logic), then contracts edges to the partition-local roots. A
  // component spanning P partitions collapses in O(log P) rounds —
  // ONE round when the edge set fits a single partition — vs the
  // O(component-diameter) rounds of min-label propagation. The edge
  // set after pair detection is orders of magnitude smaller than the
  // corpus (near-dup pairs only; millions of rows even when the
  // corpus is 100 TB), so it is repartitioned (NOT coalesced — that
  // would narrow the upstream detection) to ~1M edges per partition.
  // The oracle computes the same closure with a recursive CTE.
  // ---------------------------------------------------------------
  def q48DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ss = s; import ss.implicits._
    val rawEdges = q23MinhashLsh(s, dir).select(col("i"), col("j"))
      .persist(MEMORY_AND_DISK)
    val edgeParts = math.max(1L, rawEdges.count() / 1000000L).toInt
    var edges = rawEdges.repartition(edgeParts).as[(Long, Long)]
      .persist(MEMORY_AND_DISK)
    // node -> component representative, composed across rounds
    var mapping: DataFrame = null
    var done = false
    while (!done) {
      // partition-local exact components: min node id as local root
      val local = edges.mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (i, j) =>
          parent.getOrElseUpdate(i, i); parent.getOrElseUpdate(j, j)
          val ri = find(i); val rj = find(j)
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        val ks = parent.keysIterator.toArray // snapshot: find() mutates values
        ks.iterator.map(k => (k, find(k)))
      }.toDF("node", "root")
      val g = local.groupBy(col("node")).agg(min(col("root")).as("root"))
        .persist(MEMORY_AND_DISK)
      // compose: a node's representative may itself have been merged
      val prevMapping = mapping
      mapping = if (prevMapping == null) g else {
        val gg = g.select(col("node").as("g_node"), col("root").as("g_root"))
        val composed = prevMapping
          .join(gg, prevMapping("root") === col("g_node"), "left")
          .select(prevMapping("node"),
            coalesce(col("g_root"), prevMapping("root")).as("root"))
          .persist(MEMORY_AND_DISK)
        touch(composed) // materialize BEFORE releasing its parents
        composed
      }
      // contract edges to the roots; a fully-collapsed component
      // yields only self-loops, which drop out
      val gi = g.select(col("node").as("i"), col("root").as("ri"))
      val gj = g.select(col("node").as("j"), col("root").as("rj"))
      val newEdges = edges.toDF("i", "j").join(gi, "i").join(gj, "j")
        .filter(col("ri") =!= col("rj"))
        .select(least(col("ri"), col("rj")).as("i"),
          greatest(col("ri"), col("rj")).as("j"))
        .distinct()
        .repartition(edgeParts).as[(Long, Long)]
        .persist(MEMORY_AND_DISK)
      done = newEdges.isEmpty
      // round hygiene (the q79 pattern): everything superseded this
      // round is released once its consumers have materialized —
      // newEdges via isEmpty above, the composed mapping via count().
      // In round 1 mapping IS g, so g must stay cached.
      edges.unpersist(blocking = false)
      if (prevMapping != null) {
        prevMapping.unpersist(blocking = false)
        g.unpersist(blocking = false)
      }
      edges = newEdges
    }
    edges.unpersist(blocking = false)
    rawEdges.unpersist(blocking = false)
    mapping.select(col("node").as("doc_id"), col("root").as("cluster"),
        when(col("node") === col("root"), 1).otherwise(0).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** The recursive transitive-closure CTE block over the q23 pairs —
    * shared by the q48 oracle and Advanced.q57's cluster-apply oracle.
    */
  private[queries] val closureCtes: String =
    s"""pairs AS (
       |${q23Sql.linesIterator.map("  " + _).mkString("\n").replaceAll("ORDER BY i, j$", "")}
       |), und AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION
       |  SELECT j, i FROM pairs
       |), reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
       |)""".stripMargin

  val q48Sql: String =
    s"""WITH RECURSIVE $closureCtes
       |SELECT a AS doc_id, MIN(b) AS cluster,
       |  CASE WHEN a = MIN(b) THEN 1 ELSE 0 END AS is_canonical
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q189: dedup SURVIVORSHIP-POLICY audit — q48 finds the clusters
  // and q57 applies ONE keep rule (min doc_id); this measures what
  // the CHOICE of keep rule does to the kept corpus before anyone
  // commits to it. Three standard policies over the same cluster
  // frame: keep-min-id (reproducibility), keep-longest (maximize
  // retained text), keep-richest (max distinct-word count — lexical
  // value, which diverges from raw length exactly when a long member
  // is repetitive). Per policy: cluster count (invariant — one
  // survivor per cluster), total kept chars / distinct words (what
  // the corpus actually retains), and the disagreement count vs the
  // min-id baseline (how much the choice matters on THIS corpus).
  // All survivor selections are deterministic (explicit tiebreak to
  // doc_id) so both engines pick identical survivors.
  //
  // Scale shape: one q48 clustering pass, one documents join (the
  // cluster frame is the near-dup subset — orders smaller than the
  // corpus), three row_number windows sharing the SAME cluster-key
  // exchange, and a cluster-sized baseline broadcast. Output is
  // 3 rows.
  // ---------------------------------------------------------------
  def q189SurvivorshipAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cl = q48DedupClusters(s, dir).select(col("doc_id"), col("cluster"))
    val d = documents(s, dir).select(col("doc_id"), col("n_chars"),
      size(array_distinct(Hashing.words(col("text")))).cast("long")
        .as("n_dwords"))
    val m = cl.join(d, "doc_id").persist(MEMORY_AND_DISK)
    def survivor(order: Seq[Column], policy: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(order: _*)
      m.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("cluster"), col("doc_id").as("keep"),
          col("n_chars").as("kc"), col("n_dwords").as("kw"))
        .withColumn("policy", lit(policy))
    }
    val a = survivor(Seq(col("doc_id").asc), "a_min_id")
    val b = survivor(Seq(col("n_chars").desc, col("doc_id").asc), "b_longest")
    val c = survivor(Seq(col("n_dwords").desc, col("doc_id").asc), "c_richest")
    val aKeep = a.select(col("cluster"), col("keep").as("keep_a"))
    val out = a.unionByName(b).unionByName(c)
      .join(broadcast(aKeep), "cluster")
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("kc")).as("kept_chars"),
        sum(col("kw")).as("kept_distinct_words"),
        min(col("keep")).as("min_kept_doc"),
        sum((col("keep") =!= col("keep_a")).cast("long"))
          .as("n_differ_vs_min_id"))
      .orderBy("policy")
      .localCheckpoint(true) // 3 rows; frees the cluster frame
    m.unpersist(blocking = false)
    out
  }

  val q189Sql: String =
    s"""WITH RECURSIVE $closureCtes,
       |cl AS (SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a),
       |m AS (
       |  SELECT c.doc_id, c.cluster, d.n_chars,
       |    CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
       |      AS n_dwords
       |  FROM cl c JOIN documents d USING (doc_id)
       |), sa AS (
       |  SELECT 'a_min_id' AS policy, cluster, doc_id AS keep, n_chars AS kc,
       |    n_dwords AS kw
       |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster
       |    ORDER BY doc_id) AS rk FROM m) WHERE rk = 1
       |), sb AS (
       |  SELECT 'b_longest' AS policy, cluster, doc_id AS keep, n_chars AS kc,
       |    n_dwords AS kw
       |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster
       |    ORDER BY n_chars DESC, doc_id) AS rk FROM m) WHERE rk = 1
       |), sc AS (
       |  SELECT 'c_richest' AS policy, cluster, doc_id AS keep, n_chars AS kc,
       |    n_dwords AS kw
       |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster
       |    ORDER BY n_dwords DESC, doc_id) AS rk FROM m) WHERE rk = 1
       |), all3 AS (
       |  SELECT * FROM sa UNION ALL SELECT * FROM sb UNION ALL SELECT * FROM sc
       |)
       |SELECT policy, COUNT(*) AS n_clusters,
       |  CAST(SUM(kc) AS BIGINT) AS kept_chars,
       |  CAST(SUM(kw) AS BIGINT) AS kept_distinct_words,
       |  MIN(keep) AS min_kept_doc,
       |  CAST(SUM(CASE WHEN keep <> ka.keep_a THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_differ_vs_min_id
       |FROM all3
       |JOIN (SELECT cluster, keep AS keep_a FROM sa) ka USING (cluster)
       |GROUP BY policy ORDER BY policy""".stripMargin

  // ---------------------------------------------------------------
  // q66: INCREMENTAL dedup — the daily-shard shape: a NEW batch of
  // documents (doc_id % 10 >= 8) checked against the already-indexed
  // corpus (doc_id % 10 < 8) without re-deduping the corpus itself.
  // Exact hits = md5(text) collision; near hits = sharing any MinHash
  // band key (the q23 banding, signatures via the native zero-shuffle
  // MinHashSig expression). Both checks are semi joins of the small
  // batch against index signatures — at 100 TB the index signature
  // table (hash + 4 band keys per doc) is the only thing the daily
  // job reads of the corpus, and the shuffle carries the batch, not
  // the index.
  // ---------------------------------------------------------------
  def q66IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val sigs = documents(s, dir).select(col("doc_id"), col("lang"),
      md5(col("text")).as("h"),
      graft.functions.texthash.minhashSig(col("text")).as("msig"))
    val ms = (0 until K).map(i => get(col("msig"), lit(i)))
    val bandKey = (b: Int) =>
      md5(concat_ws(",", ms(R * b), ms(R * b + 1), ms(R * b + 2)))
    val withBands = sigs.select(col("doc_id"), col("lang"), col("h"),
      explode(array((0 until B).map(b =>
        struct(lit(b).as("bi"), bandKey(b).as("bk"))): _*)).as("band"))
      .select(col("doc_id"), col("lang"), col("h"),
        col("band.bi"), col("band.bk"))
    val isBatch = col("doc_id") % 10 >= 8
    val batch = withBands.filter(isBatch)
    val index = withBands.filter(!isBatch)
    val exactHits = batch.select(col("doc_id"), col("h")).distinct()
      .join(index.select(col("h")).distinct(), "h")
      .select(col("doc_id")).distinct()
    val nearHits = batch.join(
        index.select(col("bi").as("ibi"), col("bk").as("ibk")).distinct(),
        col("bi") === col("ibi") && col("bk") === col("ibk"), "left_semi")
      .select(col("doc_id")).distinct()
    documents(s, dir).filter(isBatch).select(col("doc_id"), col("lang"))
      .join(exactHits.withColumn("ex", lit(1)), Seq("doc_id"), "left")
      .join(nearHits.withColumn("nr", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
        count(col("ex")).as("n_exact_hit"),
        count(col("nr")).as("n_near_hit"),
        count(when(col("nr").isNull, 1)).as("n_new"))
      .orderBy("lang")
  }

  val q66Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    val bandKeys = (0 until B).map { b =>
      val parts = (0 until R).map(r => s"CAST(m${R * b + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS bi, md5(${parts.mkString(" || ',' || ")}) AS bk FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), sig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandKeys
       |), exact_hits AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM documents b JOIN documents i
       |    ON md5(b.text) = md5(i.text)
       |   AND b.doc_id % 10 >= 8 AND i.doc_id % 10 < 8
       |), near_hits AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM bands b JOIN bands i
       |    ON b.bi = i.bi AND b.bk = i.bk
       |   AND b.doc_id % 10 >= 8 AND i.doc_id % 10 < 8
       |)
       |SELECT d.lang, COUNT(*) AS n_batch,
       |  COUNT(e.doc_id) AS n_exact_hit,
       |  COUNT(n.doc_id) AS n_near_hit,
       |  COUNT(CASE WHEN n.doc_id IS NULL THEN 1 END) AS n_new
       |FROM documents d
       |LEFT JOIN exact_hits e ON d.doc_id = e.doc_id
       |LEFT JOIN near_hits n ON d.doc_id = n.doc_id
       |WHERE d.doc_id % 10 >= 8
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q110: exact-substring span REMOVAL — the RefinedWeb/"deduplicating
  // training data makes language models better" operator: find every
  // 5-gram that occurs more than once ANYWHERE in the corpus, delete
  // the covered words from each document, and reassemble the cleaned
  // text (not just count the spans — q72 is the statistic, this is
  // the rewrite). Plan: one tokenize pass emits (doc, pos, gram);
  // grams aggregate to a duplicate set (partial-agg, shuffle on the
  // gram key); covered positions come back via one join on the gram
  // key + a bounded explode (×5); reassembly is a per-doc sort of
  // surviving positions. No all-pairs stage, no per-doc suffix
  // structures — the shuffles are all key-bounded, so the shape holds
  // at 100 TB (the production variant joins on a 64-bit gram hash
  // instead of the gram string to shrink the shuffle payload; the
  // string key is kept here for oracle parity).
  // Output pins the actual rewrite: an md5 over the cleaned texts in
  // doc order, per source.
  // ---------------------------------------------------------------
  private val SpanG = 5

  def q110SpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
    // (doc, start pos, gram) for every 5-gram start
    val grams = d.filter(size(col("ws")) >= SpanG)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - SpanG),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(SpanG))))))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("gram"))
    // every word position covered by a duplicated span (bounded ×G
    // explode, then distinct on (doc, pos) — both shuffle on doc-sized
    // keys, not corpus-wide strings)
    val covered = grams.join(dup, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + SpanG - 1)).as("wpos"))
      .distinct()
    val allWords = d.select(col("doc_id"), col("source"),
        posexplode(col("ws"))).select(
        col("doc_id"), col("source"), col("pos").as("wpos"),
        col("col").as("w"))
    val kept = allWords.join(covered, Seq("doc_id", "wpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        // deterministic reassembly: collect_list order is arbitrary,
        // sorting the (pos, word) structs first makes it canonical
        concat_ws(" ",
          transform(sort_array(collect_list(struct(col("wpos"), col("w")))),
            p => p.getField("w"))).as("cleaned"))
    val perDoc = d.select(col("doc_id"), col("source"),
        size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left_outer")
      // a fully-covered doc has no surviving words: empty text, 0 kept
      .select(col("doc_id"), col("source"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words_total"),
        sum(col("n_words") - col("n_kept")).as("words_removed"),
        Relational.ratio4(sum(col("n_words") - col("n_kept")),
          sum(col("n_words"))).as("removed_ratio"),
        md5(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("doc_id"),
            col("cleaned")))), p => p.getField("cleaned"))))
          .as("cleaned_md5"))
      .orderBy("source")
  }

  val q110Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(list_slice(ws, CAST(i+1 AS INT), CAST(i+$SpanG AS INT)), ' ') AS gram
       |  FROM d, unnest(range(len(ws) - ${SpanG - 1})) t(i)
       |), dup AS (
       |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
       |), cov AS (
       |  SELECT DISTINCT doc_id, pos + j AS wpos
       |  FROM g JOIN dup USING (gram), unnest(range($SpanG)) s(j)
       |), w AS (
       |  SELECT doc_id, source, CAST(i AS BIGINT) AS wpos,
       |    ws[CAST(i+1 AS INT)] AS w
       |  FROM d, unnest(range(len(ws))) t(i)
       |), kept AS (
       |  SELECT w.doc_id, COUNT(*) AS n_kept,
       |    string_agg(w.w, ' ' ORDER BY w.wpos) AS cleaned
       |  FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.wpos = cov.wpos
       |  WHERE cov.doc_id IS NULL
       |  GROUP BY w.doc_id
       |), per_doc AS (
       |  SELECT d.doc_id, d.source, CAST(len(d.ws) AS BIGINT) AS n_words,
       |    COALESCE(kept.n_kept, 0) AS n_kept,
       |    COALESCE(kept.cleaned, '') AS cleaned
       |  FROM d LEFT JOIN kept USING (doc_id)
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS words_total,
       |  CAST(SUM(n_words - n_kept) AS BIGINT) AS words_removed,
       |  ((20000*CAST(SUM(n_words - n_kept) AS BIGINT)
       |      + CAST(SUM(n_words) AS BIGINT))
       |    // (2*CAST(SUM(n_words) AS BIGINT))) / 10000.0 AS removed_ratio,
       |  md5(string_agg(cleaned, chr(10) ORDER BY doc_id)) AS cleaned_md5
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q120: ENSEMBLE dedup verdict — production near-dup removal rarely
  // trusts one signal; this combines three independent ones on each
  // blocked candidate pair and takes a 2-of-3 vote:
  //   jaccard >= 0.5   (set overlap, q23/q25's statistic)
  //   hamming  <= 3    (SimHash60 distance, q24's statistic)
  //   containment >= 0.8 (doc-contains-doc, q91's statistic)
  // Candidates come from q23's banded LSH keys (B=4 bands of R=3
  // minhashes, md5 band key) — NOT a single min-shingle bucket: one
  // boilerplate shingle shared by a large fraction of a web corpus
  // would make one quadratic bucket, while a band key requires 3
  // simultaneous minhash collisions, so hot buckets need near-full
  // similarity. A pair can collide in several bands, hence the
  // DISTINCT before the verify join. Signatures ride the zero-shuffle
  // native SimHash60/MinHashSig expressions. Every gate is pure int64
  // (2·inter ≥ union, 5·inter ≥ 4·min) so both engines branch
  // identically on the boundaries. At 100 TB this is one banded
  // bucket equi-join — the three verdicts are column arithmetic on
  // rows the join already built.
  // ---------------------------------------------------------------
  def q120DedupEnsemble(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: shingles + both signatures ride the same persisted
    // frame (bands, both verify-join sides, all read it — re-scanning
    // for the band keys would re-tokenize and re-hash the corpus)
    val d = documents(s, dir).select(col("doc_id"),
        shingles(col("text"), 3).as("sh"),
        graft.functions.texthash.simhash60(col("text")).as("sig"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val bands = d
      .select(col("doc_id"), explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val ba = bands.alias("ba")
    val bb = bands.alias("bb")
    val cand = ba.join(bb,
        col("ba.band_idx") === col("bb.band_idx") &&
          col("ba.band_key") === col("bb.band_key") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
      .distinct()
    val da = d.select(col("doc_id").as("i"), col("sh").as("sha"),
      col("sig").as("siga"))
    val db = d.select(col("doc_id").as("j"), col("sh").as("shb"),
      col("sig").as("sigb"))
    val inter = graft.functions.setcard
      .intersectSize(col("sha"), col("shb")).cast("long")
    val uni = graft.functions.setcard
      .unionSize(col("sha"), col("shb")).cast("long")
    val nmin = least(size(col("sha")), size(col("shb"))).cast("long")
    cand.join(da, "i").join(db, "j")
      .select(col("i"), col("j"),
        (lit(2L) * inter >= uni).cast("long").as("jac_ok"),
        (bit_count(col("siga").bitwiseXOR(col("sigb"))) <= 3)
          .cast("long").as("ham_ok"),
        (lit(5L) * inter >= lit(4L) * nmin).cast("long").as("cont_ok"))
      .withColumn("score", col("jac_ok") + col("ham_ok") + col("cont_ok"))
      .filter(col("score") >= 1)
      .withColumn("is_dup", (col("score") >= 2).cast("long"))
      .orderBy("i", "j")
  }

  val q120Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    s"""WITH h AS (
       |  SELECT doc_id, text, $sqlWordHashes AS hs FROM documents
       |), d AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh,
       |    $sqlSimhashTerms AS sig
       |  FROM h
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM d, unnest(d.sh) s(s)
       |), msig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  ${sqlBandSelects("msig")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT i, j,
       |    CASE WHEN 2*len(list_intersect(a.sh, b.sh))
       |           >= len(list_distinct(list_concat(a.sh, b.sh)))
       |         THEN 1 ELSE 0 END AS jac_ok,
       |    CASE WHEN bit_count(xor(a.sig, b.sig)) <= 3
       |         THEN 1 ELSE 0 END AS ham_ok,
       |    CASE WHEN 5*len(list_intersect(a.sh, b.sh))
       |           >= 4*least(len(a.sh), len(b.sh))
       |         THEN 1 ELSE 0 END AS cont_ok
       |  FROM cand JOIN d a ON a.doc_id = i JOIN d b ON b.doc_id = j
       |)
       |SELECT i, j, CAST(jac_ok AS BIGINT) AS jac_ok,
       |  CAST(ham_ok AS BIGINT) AS ham_ok,
       |  CAST(cont_ok AS BIGINT) AS cont_ok,
       |  CAST(jac_ok + ham_ok + cont_ok AS BIGINT) AS score,
       |  CAST(CASE WHEN jac_ok + ham_ok + cont_ok >= 2
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM pairs WHERE jac_ok + ham_ok + cont_ok >= 1
       |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------
  // q130: threshold SENSITIVITY sweep — tuning a dedup pipeline means
  // asking "how many pairs/docs does each jaccard cutoff remove?",
  // and the naive way re-runs the pipeline per cutoff. This answers
  // all four cutoffs in ONE pass: candidates and their exact
  // intersections are computed once (the expensive part), then a
  // bounded ×4 threshold explode classifies each pair — the flag is
  // pure int64 (10^4·inter ≥ t·union). Re-scan cost: zero; at 100 TB
  // the sweep column is free relative to the blocked self-join it
  // rides on.
  // ---------------------------------------------------------------
  // chosen to straddle the corpus's similarity knee: noise candidates
  // sit near 0, true near-dups near 1 — the sweep shows the cliff
  private val SweepThresholds = Seq(100L, 1000L, 9000L, 9500L)

  def q130ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
        shingles(col("text"), 3).as("sh"))
      .withColumn("mk", minhash(col("sh"), 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val a = d.alias("a")
    val b = d.alias("b")
    val cand = a.join(b, col("a.mk") === col("b.mk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        graft.functions.setcard.intersectSize(col("a.sh"), col("b.sh"))
          .cast("long").as("inter"),
        graft.functions.setcard.unionSize(col("a.sh"), col("b.sh"))
          .cast("long").as("uni"))
    val flagged = cand
      .select(col("i"), col("j"), col("inter"), col("uni"),
        explode(array(SweepThresholds.map(lit(_)): _*)).as("thr"))
      .filter(col("inter") * 10000L >= col("thr") * col("uni"))
      // persisted: BOTH aggregations below read it — without the cache
      // the blocked self-join and its per-pair intersect/union counts
      // (the expensive part) would execute twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(flagged)
    val pairs = flagged.groupBy(col("thr"))
      .agg(count(lit(1)).as("n_pairs"))
    val docs = flagged
      .select(col("thr"), explode(array(col("i"), col("j"))).as("d"))
      .distinct()
      .groupBy(col("thr")).agg(count(lit(1)).as("n_docs"))
    pairs.join(docs, Seq("thr"))
      .select((col("thr") / 10000.0).as("threshold"),
        col("n_pairs"), col("n_docs"))
      .orderBy("threshold")
  }

  val q130Sql: String = {
    val thrList = SweepThresholds.mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT doc_id, sh, ${sqlMinhash("sh", 0)} AS mk
       |  FROM (SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents)
       |), cand AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS uni
       |  FROM d a JOIN d b ON a.mk = b.mk AND a.doc_id < b.doc_id
       |), flagged AS (
       |  SELECT i, j, thr FROM cand, unnest($thrList) t(thr)
       |  WHERE inter * 10000 >= thr * uni
       |), p AS (
       |  SELECT thr, COUNT(*) AS n_pairs FROM flagged GROUP BY thr
       |), dd AS (
       |  SELECT thr, COUNT(*) AS n_docs FROM (
       |    SELECT DISTINCT thr, d FROM (
       |      SELECT thr, i AS d FROM flagged
       |      UNION ALL SELECT thr, j FROM flagged
       |    )
       |  ) GROUP BY thr
       |)
       |SELECT thr / 10000.0 AS threshold, n_pairs, n_docs
       |FROM p JOIN dd USING (thr) ORDER BY threshold""".stripMargin
  }

  // ---------------------------------------------------------------
  // q142: FUZZY eval-set decontamination — q61 catches exact 5-gram
  // overlap; paraphrased / lightly-edited benchmark leakage slips
  // through an exact-gram gate. This runs the q23 banded-LSH machinery
  // BETWEEN splits: eval docs (doc_id % 97 == 0, q61's held-out
  // convention) publish their band keys; a training doc sharing any
  // band is a candidate, verified with exact jaccard >= 0.5 (int64
  // gate). Scale shape: the eval split is benchmark-sized, so its
  // band keys BROADCAST — the corpus side is a map stage into a
  // broadcast join, no corpus shuffle; the verify join touches only
  // candidates.
  // ---------------------------------------------------------------
  def q142FuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // ONE scan: shingles + minhash signature ride the same persisted
    // frame; bands, the train verify side, and the eval broadcast all
    // read it
    val d = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val bands = d
      .select(col("doc_id"), explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val ev = bands.filter(col("doc_id") % 97 === 0)
      .select(col("band_idx"), col("band_key"), col("doc_id").as("eval_id"))
    val cand = bands.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(ev), Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("eval_id"))
      .distinct()
    val inter = graft.functions.setcard
      .intersectSize(col("sht"), col("she")).cast("long")
    val uni = graft.functions.setcard
      .unionSize(col("sht"), col("she")).cast("long")
    val ver = cand
      .join(d.select(col("doc_id"), col("sh").as("sht")), "doc_id")
      // broadcast ONLY the eval split's shingles (benchmark-sized by
      // the scale contract above) — broadcasting the whole corpus
      // frame here would ship ~97x the intended bytes and cap out at
      // the broadcast threshold on a real corpus
      .join(broadcast(d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("sh").as("she"))),
        "eval_id")
      .filter(lit(2L) * inter >= uni) // jaccard >= 0.5, exact int64
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("source"))
      .join(ver, Seq("doc_id"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        count(when(col("n_matches") >= 1, 1)).as("n_contaminated"),
        sum(col("n_matches")).cast("long").as("n_pairs"))
      .withColumn("contam_rate",
        Relational.ratio4(col("n_contaminated"), col("n_train")))
      .orderBy("source")
  }

  val q142Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    s"""WITH sh AS (
       |  SELECT doc_id, source, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), msig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  ${sqlBandSelects("msig")}
       |), ev AS (
       |  SELECT band_idx, band_key, doc_id AS eval_id
       |  FROM bands WHERE doc_id % 97 = 0
       |), cand AS (
       |  SELECT DISTINCT t.doc_id, ev.eval_id
       |  FROM bands t JOIN ev USING (band_idx, band_key)
       |  WHERE t.doc_id % 97 <> 0
       |), ver AS (
       |  SELECT c.doc_id, COUNT(*) AS n_matches
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_id
       |  JOIN sh b ON b.doc_id = c.eval_id
       |  WHERE 2*len(list_intersect(a.sh, b.sh))
       |        >= len(list_distinct(list_concat(a.sh, b.sh)))
       |  GROUP BY c.doc_id
       |), t AS (
       |  SELECT d.doc_id, d.source, coalesce(v.n_matches, 0) AS n_matches
       |  FROM documents d LEFT JOIN ver v USING (doc_id)
       |  WHERE d.doc_id % 97 <> 0
       |)
       |SELECT source, COUNT(*) AS n_train,
       |  COUNT(CASE WHEN n_matches >= 1 THEN 1 END) AS n_contaminated,
       |  CAST(SUM(n_matches) AS BIGINT) AS n_pairs,
       |  ((20000*COUNT(CASE WHEN n_matches >= 1 THEN 1 END) + COUNT(*))
       |   // (2*COUNT(*))) / 10000.0 AS contam_rate
       |FROM t GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------
  // q143: MinHash ESTIMATOR-accuracy evaluation — before trusting the
  // 12-value signature as a jaccard proxy (q23's candidate filter),
  // measure its error against the exact jaccard on real candidate
  // pairs: est = agreeing-minhash-count / 12, exact = |A∩B| / |A∪B|,
  // report |est - exact| bucketed at 0.1 (the sketch-quality harness
  // — q117's recall eval for the OTHER index family). All arithmetic
  // is integer floor-division in e4 units so both engines bucket
  // identically. One banded candidate join (bounded, q23's plan) —
  // the eval rides the join the dedup pipeline already pays for.
  // ---------------------------------------------------------------
  def q143SketchAccuracy(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
        shingles(col("text"), 3).as("sh"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val bands = d.select(col("doc_id"),
        explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val ba = bands.alias("ba")
    val bb = bands.alias("bb")
    val cand = ba.join(bb,
        col("ba.band_idx") === col("bb.band_idx") &&
          col("ba.band_key") === col("bb.band_key") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
      .distinct()
    val agree = (0 until K).map(idx =>
      when(get(col("ma"), lit(idx)) === get(col("mb"), lit(idx)), 1L)
        .otherwise(0L)).reduce(_ + _)
    val inter = graft.functions.setcard
      .intersectSize(col("sha"), col("shb")).cast("long")
    val uni = graft.functions.setcard
      .unionSize(col("sha"), col("shb")).cast("long")
    cand
      .join(d.select(col("doc_id").as("i"), col("sh").as("sha"),
        col("msig").as("ma")), "i")
      .join(d.select(col("doc_id").as("j"), col("sh").as("shb"),
        col("msig").as("mb")), "j")
      .withColumn("agree", agree)
      .withColumn("inter_n", inter)
      .withColumn("uni_n", uni)
      .withColumn("est_e4", expr(s"(agree * 10000) div $K"))
      .withColumn("ex_e4", expr("(inter_n * 10000) div uni_n"))
      .withColumn("err_e4", abs(col("est_e4") - col("ex_e4")))
      .withColumn("bucket", expr("err_e4 div 1000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err_e4")).as("err_sum"))
      .orderBy("bucket")
  }

  val q143Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    val agreeSum = (0 until K).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), msig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  ${sqlBandSelects("msig")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), scored AS (
       |  SELECT i, j,
       |    (($agreeSum) * 10000) // $K AS est_e4,
       |    (len(list_intersect(sa.sh, sb.sh)) * 10000)
       |      // len(list_distinct(list_concat(sa.sh, sb.sh))) AS ex_e4
       |  FROM cand
       |  JOIN msig a ON a.doc_id = i
       |  JOIN msig b ON b.doc_id = j
       |  JOIN sh sa ON sa.doc_id = i
       |  JOIN sh sb ON sb.doc_id = j
       |)
       |SELECT ABS(est_e4 - ex_e4) // 1000 AS bucket,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(ABS(est_e4 - ex_e4)) AS BIGINT) AS err_sum
       |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------
  // q145: near-dup graph TRANSITIVITY audit — "A~B and B~C, is A~C?"
  // Before trusting q48's union-find clusters (which assume the
  // similarity relation is usefully transitive), measure the wedge
  // closure rate of the verified near-dup pair graph: every open
  // wedge is a pair the pipeline would merge transitively without
  // direct evidence. Pairs come from the banded candidates verified
  // at jaccard >= 0.5 (q23's plan); the wedge join runs on the PAIR
  // set, which post-verification is duplicate-sized, not corpus-sized
  // — a degenerate giant near-dup cluster would need q115's
  // degree-orientation treatment, noted here, not needed at any sane
  // dedup threshold.
  // ---------------------------------------------------------------
  def q145TransitivityAudit(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
        shingles(col("text"), 3).as("sh"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val bands = d.select(col("doc_id"),
        explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val ba = bands.alias("ba")
    val bb = bands.alias("bb")
    val inter = graft.functions.setcard
      .intersectSize(col("sha"), col("shb")).cast("long")
    val uni = graft.functions.setcard
      .unionSize(col("sha"), col("shb")).cast("long")
    val pairs = ba.join(bb,
        col("ba.band_idx") === col("bb.band_idx") &&
          col("ba.band_key") === col("bb.band_key") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
      .distinct()
      .join(d.select(col("doc_id").as("i"), col("sh").as("sha")), "i")
      .join(d.select(col("doc_id").as("j"), col("sh").as("shb")), "j")
      .filter(lit(2L) * inter >= uni)
      .select(col("i"), col("j"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(pairs) // eager: read by the wedge join and the closure probe
    val oriented = pairs.select(col("i").as("c"), col("j").as("o"))
      .unionByName(pairs.select(col("j").as("c"), col("i").as("o")))
    val oa = oriented.alias("oa")
    val ob = oriented.alias("ob")
    val wedges = oa.join(ob,
        col("oa.c") === col("ob.c") && col("oa.o") < col("ob.o"))
      .select(col("oa.o").as("x"), col("ob.o").as("y"))
    val closed = wedges
      .join(pairs.withColumn("closed", lit(1L))
          .withColumnRenamed("i", "x").withColumnRenamed("j", "y"),
        Seq("x", "y"), "left")
      .withColumn("closed", coalesce(col("closed"), lit(0L)))
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    closed.agg(count(lit(1)).as("n_wedges"),
        sum(col("closed")).as("n_closed"))
      .crossJoin(broadcast(nPairs))
      .withColumn("closure_rate",
        Relational.ratio4(col("n_closed"), greatest(col("n_wedges"), lit(1L))))
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
        col("closure_rate"))
  }

  val q145Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), msig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  ${sqlBandSelects("msig")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT i, j FROM cand
       |  JOIN sh sa ON sa.doc_id = i
       |  JOIN sh sb ON sb.doc_id = j
       |  WHERE 2*len(list_intersect(sa.sh, sb.sh))
       |        >= len(list_distinct(list_concat(sa.sh, sb.sh)))
       |), oriented AS (
       |  SELECT i AS c, j AS o FROM pairs
       |  UNION ALL SELECT j AS c, i AS o FROM pairs
       |), wedges AS (
       |  SELECT a.o AS x, b.o AS y
       |  FROM oriented a JOIN oriented b ON a.c = b.c AND a.o < b.o
       |), closed AS (
       |  SELECT w.x, w.y,
       |    CASE WHEN p.i IS NULL THEN 0 ELSE 1 END AS closed
       |  FROM wedges w LEFT JOIN pairs p ON p.i = w.x AND p.j = w.y
       |)
       |SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
       |  COUNT(*) AS n_wedges,
       |  CAST(SUM(closed) AS BIGINT) AS n_closed,
       |  ((20000*CAST(SUM(closed) AS BIGINT)
       |      + GREATEST(COUNT(*), 1))
       |    // (2*GREATEST(COUNT(*), 1))) / 10000.0 AS closure_rate
       |FROM closed""".stripMargin
  }

  // ---------------------------------------------------------------
  // q152: sliding-window CHUNKING with cross-document chunk dedup —
  // the RAG/context-packing shape, complementary to q116's
  // content-defined chunking: fixed 200-char windows at stride 100
  // (50% overlap), then per-source accounting of how much of the
  // chunk stream is boilerplate (the same chunk text appearing in
  // more than one document — exactly the windows a retrieval index
  // should store once). Chunks are materialized by a bounded
  // transform() over the offset sequence INSIDE the array before the
  // explode, so the parent text is never duplicated per chunk row.
  // Scale shape: one explode with fan-out len/stride (bounded by the
  // document length cap), one groupBy on the chunk text (map-side
  // combined), and the instance/share join re-uses that same chunk
  // hash partitioning — no all-pairs stage anywhere; a hot chunk
  // (megadup boilerplate) lands on one reducer as ONE group row,
  // not a quadratic bucket. Uses length(text), not the n_chars
  // column, so the query carries no testdata invariant.
  // ---------------------------------------------------------------
  private val ChunkLen = 200
  private val ChunkStride = 100

  def q152ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val ch = documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(0), length(col("text")) - 1, lit(ChunkStride)),
          o => col("text").substr(o + 1, lit(ChunkLen)))).as("chunk"))
    val shared = ch.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    ch.join(shared, Seq("chunk"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk")).as("n_distinct"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_crossdoc"),
        sum(length(col("chunk")).cast("long")).as("sum_chars"))
      .orderBy("source")
  }

  val q152Sql: String =
    s"""WITH ch AS (
       |  SELECT doc_id, source,
       |    substring(text, CAST(o AS INT) + 1, $ChunkLen) AS chunk
       |  FROM (
       |    SELECT doc_id, source, text,
       |      unnest(range(0, length(text), $ChunkStride)) AS o
       |    FROM documents
       |  )
       |), shared AS (
       |  SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM ch GROUP BY chunk
       |)
       |SELECT ch.source AS source, COUNT(*) AS n_chunks,
       |  COUNT(DISTINCT ch.chunk) AS n_distinct,
       |  CAST(SUM(CASE WHEN shared.n_docs >= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_crossdoc,
       |  CAST(SUM(length(ch.chunk)) AS BIGINT) AS sum_chars
       |FROM ch JOIN shared ON ch.chunk = shared.chunk
       |GROUP BY ch.source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q154: bag-of-words (order-insensitive) duplicate detection — the
  // near-dup class exact dedup (q22) misses and shingling (q23/q25)
  // only scores partially: documents built from the SAME word
  // multiset in a different order (template reshuffles, scraped
  // listings re-sorted by a site). Runs ops.bagDedupAudit per source:
  // one hash groupBy on the md5 of the sorted token sequence —
  // identical scale shape to q22: no joins, no pairs, per-row work
  // bounded by doc length. The per-source audit (q22's per-lang
  // summary shape) keeps the result non-degenerate at every SF;
  // byte-identical copy groups are q22's catch.
  // ---------------------------------------------------------------
  def q154BowDup(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.bagDedupAudit(documents(s, dir), "source", "text")
      .orderBy("source")

  val q154Sql: String =
    """WITH k AS (
      |  SELECT source,
      |    md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow,
      |    md5(text) AS txt
      |  FROM documents
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT bow) AS n_bags,
      |  COUNT(DISTINCT txt) AS n_texts,
      |  COUNT(*) - COUNT(DISTINCT bow) AS bag_dup_docs,
      |  COUNT(DISTINCT txt) - COUNT(DISTINCT bow) AS shuffle_only_texts
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q158: cross-source NEAR-DUP CONTAMINATION MATRIX — the corpus
  // provenance audit built on the q23 machinery: which source pairs
  // share near-duplicate documents (mirror sites, syndicated feeds,
  // one crawl slice re-scraped under another label). Candidates come
  // from the banded LSH keys (never all-pairs), verified with the
  // exact int64 jaccard gate (2·inter ≥ union ⇔ J ≥ 0.5); each
  // surviving pair is then attributed to its CANONICALIZED source
  // pair (least/greatest, with the doc ids swapped alongside so
  // n_docs_a always counts the lexically-smaller source's members).
  // Output is O(sources²) rows regardless of corpus size. Scale
  // shape: identical to q23 — signature map stage, band-key bucket
  // join, verify join on candidates only — plus one constant-size
  // aggregation; the diagonal (src==src) rows are the within-source
  // dup mass, the off-diagonal the cross-source leakage.
  // ---------------------------------------------------------------
  def q158SourceNeardupMatrix(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: shingles + source + signature ride the same persisted
    // frame (bands and both verify-join sides all read it)
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"),
        shingles(col("text"), 3).as("sh"),
        graft.functions.texthash.minhashSig(col("text")).as("msig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touch(d) // eager (q25's race note)
    val bands = d
      .select(col("doc_id"), explode(bandStructsOf(col("msig"))).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
    val ba = bands.alias("ba")
    val bb = bands.alias("bb")
    val cand = ba.join(bb,
        col("ba.band_idx") === col("bb.band_idx") &&
          col("ba.band_key") === col("bb.band_key") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
      .distinct()
    val da = d.select(col("doc_id").as("i"), col("source").as("si"),
      col("sh").as("sha"))
    val db = d.select(col("doc_id").as("j"), col("source").as("sj"),
      col("sh").as("shb"))
    val inter = graft.functions.setcard
      .intersectSize(col("sha"), col("shb")).cast("long")
    val uni = graft.functions.setcard
      .unionSize(col("sha"), col("shb")).cast("long")
    cand.join(da, "i").join(db, "j")
      .filter(lit(2L) * inter >= uni) // jaccard >= 0.5, exact int64
      .select(least(col("si"), col("sj")).as("src_a"),
        greatest(col("si"), col("sj")).as("src_b"),
        when(col("si") <= col("sj"), col("i")).otherwise(col("j")).as("doc_a"),
        when(col("si") <= col("sj"), col("j")).otherwise(col("i")).as("doc_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))
      .orderBy("src_a", "src_b")
  }

  val q158Sql: String = {
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    s"""WITH sh AS (
       |  SELECT doc_id, source, ${sqlShingles(3)} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM sh, unnest(sh.sh) s(s)
       |), msig AS (
       |  SELECT doc_id, $minAggs FROM ex GROUP BY doc_id
       |), bands AS (
       |  ${sqlBandSelects("msig")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), ver AS (
       |  SELECT least(a.source, b.source) AS src_a,
       |    greatest(a.source, b.source) AS src_b,
       |    CASE WHEN a.source <= b.source THEN i ELSE j END AS doc_a,
       |    CASE WHEN a.source <= b.source THEN j ELSE i END AS doc_b
       |  FROM cand JOIN sh a ON a.doc_id = i JOIN sh b ON b.doc_id = j
       |  WHERE 2*len(list_intersect(a.sh, b.sh))
       |        >= len(list_distinct(list_concat(a.sh, b.sh)))
       |)
       |SELECT src_a, src_b, COUNT(*) AS n_pairs,
       |  COUNT(DISTINCT doc_a) AS n_docs_a,
       |  COUNT(DISTINCT doc_b) AS n_docs_b
       |FROM ver GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // q176: WINNOWING fingerprint selection (Schleimer-Wilkerson-Aiken
  // 2003, the MOSS algorithm) — the fourth fingerprint-SELECTION
  // family next to MinHash (q23, random sampling), SimHash (q24,
  // projection), and CDC (q116, content-defined boundaries): hash
  // every k-word gram, slide a w-window over the gram-hash sequence,
  // keep each window's MINIMUM — the only local sampling rule with a
  // detection GUARANTEE (any shared run of >= w+k-1 words shares a
  // selected fingerprint, while storing ~2/(w+1) of the grams).
  // Output: the top shared fingerprints across docs — the
  // plagiarism/boilerplate index MOSS builds. Scale shape: the gram
  // hashing AND the window minima run inside ONE codegen'd kernel
  // call in the scan projection (no per-window explode — the corpus
  // row count never multiplies until the bounded fp explode), then a
  // partially-aggregated groupBy on the (distinct-per-doc)
  // fingerprints; the rank window runs over the fingerprint-sized
  // aggregate, never the corpus. Oracle: the same selection via SQL
  // window MIN over unnested gram positions.
  // ---------------------------------------------------------------
  private val WinK = 3 // words per gram
  private val WinW = 4 // grams per window

  /** The winnowing selection: k-gram 28-bit hashes -> w-window
    * minima -> distinct fingerprints, as ONE codegen'd kernel call
    * (`functions.TextHashing.winnowFps` — monotonic-deque sliding
    * minimum, one pass, one md5 per gram). The corpus path used the
    * declarative twin below until round 6; its giant HOF tree was
    * CodegenFallback and cost a 36 s Janino cold-compile at sf0.1.
    * Exposed so the detection guarantee (shared >= w+k-1 word run =>
    * shared fingerprint) is property-testable off the corpus path.
    */
  private[graft] def winnowFps(text: Column): Column =
    graft.functions.texthash.winnowFps(text, WinK, WinW)

  /** The same selection as a declarative Column pipeline — kept (off
    * the corpus path) as the independent second implementation that
    * WinnowingSpec pins the native kernel against bit-for-bit.
    */
  private[graft] def winnowFpsDeclarative(text: Column): Column = {
    val ws = words(text)
    val grams = when(size(ws) >= WinK,
      transform(sequence(lit(0), size(ws) - WinK),
        i => Hashing.hash28(concat_ws(" ", slice(ws, i + 1, lit(WinK))))))
      .otherwise(array().cast("array<bigint>"))
    when(size(grams) >= WinW,
      array_distinct(transform(sequence(lit(0), size(grams) - WinW),
        j => array_min(slice(grams, j + 1, lit(WinW))))))
      .otherwise(array().cast("array<bigint>"))
  }

  def q176Winnowing(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir)
      .select(col("doc_id"), explode(winnowFps(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2L)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("fp"))).cast("long"))
      .filter(col("rnk") <= 15)
      .select(col("rnk"), col("fp"), col("n_docs"),
        col("min_doc"), col("max_doc"))
      .orderBy("rnk")
  }

  val q176Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(p AS INT) AS p,
       |    CAST('0x' || substr(md5(ws[CAST(p AS INT)] || ' ' ||
       |      ws[CAST(p AS INT) + 1] || ' ' || ws[CAST(p AS INT) + 2]), 1, 7)
       |      AS BIGINT) AS h
       |  FROM t, unnest(range(1, len(ws) - ${WinK - 2})) r(p)
       |  WHERE len(ws) >= $WinK
       |), w AS (
       |  SELECT doc_id, p,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS fp,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS m
       |  FROM g
       |), sel AS (
       |  SELECT DISTINCT doc_id, fp FROM w WHERE p + ${WinW - 1} <= m
       |)
       |SELECT rnk, fp, n_docs, min_doc, max_doc FROM (
       |  SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |    CAST(row_number() OVER (ORDER BY COUNT(*) DESC, fp) AS BIGINT) AS rnk
       |  FROM sel GROUP BY fp HAVING COUNT(*) >= 2
       |) WHERE rnk <= 15 ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------
  // q218: WARM-START near-dup dedup — the growing-corpus production
  // loop q66 only screens for: yesterday's corpus (doc_id % 8 <> 0)
  // is cold-labeled once (phase 0 = the q23 -> q48 pipeline), then
  // today's shard (doc_id % 8 = 0) arrives as an inserts-only
  // changelog. The incremental pass (ops.nearDupDedupIncremental)
  // generates candidates only from band buckets a NEW doc touches,
  // replaces the old pair graph with its star compression, and
  // warm-starts the cc fixpoint from the previous labels — so the
  // warm movement curve reflects only the delta's disturbance, while
  // the final (kept, labels) are provably equal to the cold run on
  // the union corpus (IncrementalDedupSpec pins the equality; the
  // oracle replays BOTH loops round by round, so an early/late stop
  // in either phase hash-mismatches).
  //
  // Scale shape: delta-sized candidate join (old x old buckets never
  // re-verify), star+delta-sized cc rounds with q161's per-round
  // shape, one broadcast drop anti-join against the union corpus.
  // ---------------------------------------------------------------
  def q218WarmDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    val docs = documents(s, dir).persist(MEMORY_AND_DISK)
    touch(docs)
    val base = docs.filter(col("doc_id") % 8 =!= 0)
    val delta = docs.filter(col("doc_id") % 8 === 0)
    // ONE signature scan of the base corpus (r16): the cold labels
    // pass and the warm pass's old side both consume this
    // materialized band table instead of re-running the
    // shingle+minhash map over base (bandsOf is per-doc pure, so the
    // values are identical; only the recomputation count changes)
    val baseBands = org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
      graft.api.ops.nearDupBands(base, "doc_id", "text")
        .localCheckpoint(true))
    val (lab0, curve0) = graft.api.ops.nearDupLabels(base, "doc_id", "text",
      precomputedBands = Some(baseBands))
    val (kept, lab1, curve1) = graft.api.ops.nearDupDedupIncremental(
      base, delta, "doc_id", "text", lab0, oldBands = Some(baseBands))
    val census = lab1.groupBy(col("component"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
      .select(lit("comp").as("part"), col("component").as("k"),
        col("n").as("v1"), col("mx").as("v2"))
    val keptRow = kept.agg(count(lit(1)).as("v1"),
        sum(col("doc_id")).as("v2"))
      .select(lit("kept").as("part"), lit(0L).as("k"),
        col("v1"), col("v2"))
    val c0 = curve0.toDF("k", "v1")
      .select(lit("round0").as("part"), col("k"), col("v1"),
        lit(0L).as("v2"))
    val c1 = curve1.toDF("k", "v1")
      .select(lit("round1").as("part"), col("k"), col("v1"),
        lit(0L).as("v2"))
    val out = census.unionByName(keptRow).unionByName(c0).unionByName(c1)
      .orderBy("part", "k")
    val ck = out.localCheckpoint(true)
    // lab0 consumed (warm init + star edges materialized into the
    // loop's checkpoints); lab1 consumed into census + drops;
    // baseBands consumed by both passes' candidate joins
    graft.Ck.release(lab0)
    graft.Ck.release(lab1)
    graft.Ck.release(baseBands)
    docs.unpersist(blocking = false)
    ck
  }

  val q218Sql: String = {
    // 12-alternation unroll for both replayed loops (the engine
    // stops data-driven; dup-cluster graphs are shallow — star edges
    // keep old components one alternation from stable, so the warm
    // phase is delta-deep). The warm shortcut edges the engine adds
    // (ops.ccLabelEdges) are a subset of the star-carry edges
    // already in und1, so the replay inits are the plain edge sets.
    val R = 12
    // q23's full pair pipeline, re-scoped as a nested WITH: the
    // engine's delta-restricted candidate generation is provably
    // equal to "all verified pairs touching >= 1 new doc" (band
    // membership is a pure per-doc function), so the oracle derives
    // both edge sets from the one allpairs CTE
    val pairs = q23Sql.linesIterator.map("  " + _).mkString("\n")
      .replaceAll("ORDER BY i, j$", "")
    s"""WITH allpairs AS (
       |$pairs
       |), und0 AS MATERIALIZED (
       |  SELECT i AS a, j AS b FROM allpairs WHERE i % 8 <> 0 AND j % 8 <> 0
       |), pd AS MATERIALIZED (
       |  SELECT i AS a, j AS b FROM allpairs WHERE i % 8 = 0 OR j % 8 = 0
       |),
       |${Mining.CcReplaySql.phase("p0_", "SELECT a, b FROM und0", R)},
       |star AS (SELECT lbl AS a, node AS b FROM p0_final WHERE node <> lbl),
       |und1 AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM star UNION ALL SELECT a, b FROM pd)
       |),
       |${Mining.CcReplaySql.phase("p1_", "SELECT a, b FROM und1", R)}
       |SELECT 'comp' AS part, lbl AS k, CAST(COUNT(*) AS BIGINT) AS v1,
       |  MAX(node) AS v2 FROM p1_final GROUP BY lbl
       |UNION ALL
       |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(doc_id) AS BIGINT) FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM p1_final WHERE node <> lbl)
       |UNION ALL
       |SELECT 'round0', round, mv, CAST(0 AS BIGINT) FROM p0_curve
       |WHERE round <= (SELECT r FROM p0_stop)
       |UNION ALL
       |SELECT 'round1', round, mv, CAST(0 AS BIGINT) FROM p1_curve
       |WHERE round <= (SELECT r FROM p1_stop)
       |ORDER BY part, k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q219: TAKEDOWN dedup — the full-CDC production loop: yesterday's
  // corpus (doc_id % 8 <> 0) is cold-labeled once, then today's
  // changelog arrives with BOTH inserts (doc_id % 8 = 0) and
  // takedowns (DMCA removals, opt-outs — drawn from the labeled dup
  // subset, id % 3 = 0, so the removals actually disturb clusters:
  // 9 of 19 components at sf0.01, 105 of 184 at sf0.1, leaving the
  // rest to exercise the star-carry path). The delta
  // pass (ops.nearDupDedupDelta) carries undisturbed components
  // forward as star edges, re-derives pair structure only inside the
  // components a takedown disturbed (a removed bridge doc can split
  // one), generates insert candidates only from buckets a new doc
  // touches, and warm-starts the cc fixpoint with exactly the
  // disturbed components re-seeded. Final (kept, labels) are
  // provably equal to the cold run on the surviving union
  // (IncrementalDedupSpec pins it, including a planted bridge
  // split); the oracle replays both loops round by round AND the
  // disturbed-component census, so a wrong affected set, an
  // early/late stop, or a mis-seeded warm init all hash-mismatch.
  //
  // Scale shape: delete list and disturbed-component list broadcast,
  // disturbed-survivor-sized re-verify self-join, delta-sized insert
  // candidates, star+delta-sized cc rounds, one broadcast drop
  // anti-join against the surviving union.
  // ---------------------------------------------------------------
  def q219TakedownDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = documents(s, dir).persist(MEMORY_AND_DISK)
    touch(docs)
    val base = docs.filter(col("doc_id") % 8 =!= 0)
    val delta = docs.filter(col("doc_id") % 8 === 0)
    // one signature scan of base for both passes (r16, q218's note)
    val baseBands = org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
      graft.api.ops.nearDupBands(base, "doc_id", "text")
        .localCheckpoint(true))
    val (lab0, curve0) = graft.api.ops.nearDupLabels(base, "doc_id", "text",
      precomputedBands = Some(baseBands))
    val deleted = lab0.filter(col("id") % 3 === 0)
      .select(col("id").as("doc_id"))
    val (kept, lab1, curve1) = graft.api.ops.nearDupDedupDelta(
      base, delta, deleted, "doc_id", "text", lab0,
      oldBands = Some(baseBands))
    // disturbed-component census: how many clusters the takedowns
    // touched and how many surviving members needed re-verification
    // — the quantities the delta pass's cost is proportional to
    val affC = lab0.join(deleted.withColumnRenamed("doc_id", "id"), "id")
      .select(col("component")).distinct()
    val affRow = affC.agg(count(lit(1)).as("v1"))
      .crossJoin(lab0.join(broadcast(affC), "component")
        .join(deleted.withColumnRenamed("doc_id", "id"), Seq("id"),
          "left_anti")
        .agg(count(lit(1)).as("v2")))
      .select(lit("aff").as("part"), lit(0L).as("k"), col("v1"), col("v2"))
    val census = lab1.groupBy(col("component"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
      .select(lit("comp").as("part"), col("component").as("k"),
        col("n").as("v1"), col("mx").as("v2"))
    val keptRow = kept.agg(count(lit(1)).as("v1"),
        sum(col("doc_id")).as("v2"))
      .select(lit("kept").as("part"), lit(0L).as("k"),
        col("v1"), col("v2"))
    val sess = s
    import sess.implicits._
    val c0 = curve0.toDF("k", "v1")
      .select(lit("round0").as("part"), col("k"), col("v1"),
        lit(0L).as("v2"))
    val c1 = curve1.toDF("k", "v1")
      .select(lit("round1").as("part"), col("k"), col("v1"),
        lit(0L).as("v2"))
    val out = affRow.unionByName(census).unionByName(keptRow)
      .unionByName(c0).unionByName(c1)
      .orderBy("part", "k")
    val ck = out.localCheckpoint(true)
    graft.Ck.release(lab0)
    graft.Ck.release(lab1)
    graft.Ck.release(baseBands)
    docs.unpersist(blocking = false)
    ck
  }

  /** The shared DuckDB replay of the takedown day's dedup machinery
    * (q219's derivation): cold base labeling (p0), the deterministic
    * changelog (dels / aff / affsurv), the warm edge set (star carry
    * + disturbed re-derivation + insert pairs), and the warm
    * fixpoint (p1). q219Sql appends its census; q221Sql (the
    * composed day) appends the band-table / decontamination / IVF
    * legs on top of the identical dedup replay.
    */
  private def takedownDayCtes(R: Int): String = {
    val pairs = q23Sql.linesIterator.map("  " + _).mkString("\n")
      .replaceAll("ORDER BY i, j$", "")
    s"""allpairs AS (
       |$pairs
       |), und0 AS MATERIALIZED (
       |  SELECT i AS a, j AS b FROM allpairs WHERE i % 8 <> 0 AND j % 8 <> 0
       |),
       |${Mining.CcReplaySql.phase("p0_", "SELECT a, b FROM und0", R)},
       |dels AS MATERIALIZED (
       |  SELECT node FROM p0_final WHERE node % 3 = 0
       |), aff AS MATERIALIZED (
       |  SELECT DISTINCT lbl FROM p0_final WHERE node % 3 = 0
       |), affsurv AS MATERIALIZED (
       |  SELECT node FROM p0_final
       |  WHERE lbl IN (SELECT lbl FROM aff) AND node % 3 <> 0
       |), star AS (
       |  SELECT lbl AS a, node AS b FROM p0_final
       |  WHERE node <> lbl AND lbl NOT IN (SELECT lbl FROM aff)
       |), re AS (
       |  SELECT p.i AS a, p.j AS b FROM allpairs p
       |  JOIN p0_final li ON li.node = p.i
       |  WHERE p.i % 8 <> 0 AND p.j % 8 <> 0
       |    AND p.i % 3 <> 0 AND p.j % 3 <> 0
       |    AND li.lbl IN (SELECT lbl FROM aff)
       |), pd AS (
       |  SELECT i AS a, j AS b FROM allpairs
       |  WHERE (i % 8 = 0 OR j % 8 = 0)
       |    AND i NOT IN (SELECT node FROM dels)
       |    AND j NOT IN (SELECT node FROM dels)
       |), und1 AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM star UNION ALL SELECT a, b FROM re
       |    UNION ALL SELECT a, b FROM pd)
       |),
       |${Mining.CcReplaySql.phase("p1_", "SELECT a, b FROM und1", R)}""".stripMargin
  }

  val q219Sql: String = {
    // 12-alternation unroll for both replayed loops (q218's bound:
    // the engine stops data-driven; star edges keep undisturbed
    // components one alternation from stable, re-seeded ones
    // re-converge at dup-cluster depth). As in q218, the engine's
    // warm shortcut edges are a subset of und1's star carry, so the
    // replay inits are the plain edge sets.
    val R = 12
    s"""WITH ${takedownDayCtes(R)}
       |SELECT 'comp' AS part, lbl AS k, CAST(COUNT(*) AS BIGINT) AS v1,
       |  MAX(node) AS v2 FROM p1_final GROUP BY lbl
       |UNION ALL
       |SELECT 'aff', CAST(0 AS BIGINT),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM aff),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM affsurv)
       |UNION ALL
       |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(doc_id) AS BIGINT) FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM dels)
       |  AND doc_id NOT IN (SELECT node FROM p1_final WHERE node <> lbl)
       |UNION ALL
       |SELECT 'round0', round, mv, CAST(0 AS BIGINT) FROM p0_curve
       |WHERE round <= (SELECT r FROM p0_stop)
       |UNION ALL
       |SELECT 'round1', round, mv, CAST(0 AS BIGINT) FROM p1_curve
       |WHERE round <= (SELECT r FROM p1_stop)
       |ORDER BY part, k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q221: the COMPOSED day-N corpus-maintenance job, oracle-gated —
  // ops.corpusDay run on q219's exact deterministic day (base =
  // doc_id % 8 <> 0 cold-labeled, inserts = % 8 = 0, takedowns =
  // labeled dup subset id % 3 = 0, yesterday's band table handed in)
  // PLUS the composed artifacts the one-call job exists for:
  // tomorrow's band table (yesterday's filtered + today's appended —
  // per-doc purity makes it composable), exact decontamination of
  // the survivors against an eval split (doc_id % 17 = 0), and the
  // day's embeddings (vec_id % 10 = 0) assigned to the FROZEN base
  // IVF index (q220's centroids). CorpusDaySpec pins every artifact
  // equal to its cold composition; this query makes the composition
  // DRIVER-gated: census + kept accounting + both movement curves
  // (q219's replay), band-table census, decontamination account, and
  // the per-cell delta-IVF report, all hash-compared to a DuckDB
  // replay built from the q219/q23/q61/q220 oracle pieces.
  // ---------------------------------------------------------------
  def q221CorpusDay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sess = s
    import sess.implicits._
    val docs = documents(s, dir).persist(MEMORY_AND_DISK)
    touch(docs)
    val base = docs.filter(col("doc_id") % 8 =!= 0)
    val delta = docs.filter(col("doc_id") % 8 === 0)
    // yesterday's materialized band table — the steady-state input.
    // Built FIRST (r16) so the cold labels pass consumes it too: one
    // signature scan of base serves the whole day job (q218's note)
    val oldBands = org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
      graft.api.ops.nearDupBands(base, "doc_id", "text")
        .localCheckpoint(true))
    val (lab0, curve0) = graft.api.ops.nearDupLabels(base, "doc_id", "text",
      precomputedBands = Some(oldBands))
    val deleted = lab0.filter(col("id") % 3 === 0)
      .select(col("id").as("doc_id"))
    val evalSet = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("text"))
    val embs = embeddings(s, dir)
    val newVecs = embs.filter(col("vec_id") % 10 === 0)
    // q220's frozen index: per-label 4dp mean centroids of the base
    val cents = Vectors.labelCentroidsOf(embs.filter(col("vec_id") % 10 =!= 0))
      .localCheckpoint(true)
    val day = graft.api.ops.corpusDay(base, delta, deleted, "doc_id", "text",
      lab0, oldBands = Some(oldBands), evalSet = Some(evalSet),
      newVectors = Some(newVecs), centroids = Some(cents))
    val census = day.labels.groupBy(col("component"))
      .agg(count(lit(1)).as("v1"), max(col("id")).as("v2"))
      .select(lit("comp").as("part"), col("component").as("k"),
        col("v1"), col("v2"))
    val keptRow = day.kept.agg(count(lit(1)).as("v1"),
        sum(col("doc_id")).as("v2"))
      .select(lit("kept").as("part"), lit(0L).as("k"), col("v1"), col("v2"))
    val bandsRow = day.bands.agg(count(lit(1)).as("v1"),
        countDistinct(concat_ws("#", col("band_idx"), col("band_key")))
          .as("v2"))
      .select(lit("bands").as("part"), lit(0L).as("k"), col("v1"), col("v2"))
    val deconRow = day.keptClean.get
      .agg(count(when(col("n_overlap") === 0L, 1)).as("v1"),
        sum(col("n_overlap")).cast("long").as("v2"))
      .select(lit("decon").as("part"), lit(0L).as("k"), col("v1"), col("v2"))
    val ivfRows = day.ivfDelta.get
      .withColumn("d2e6", round(col("d2") * 1e6, 0).cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("v1"), sum(col("d2e6")).as("v2"))
      .select(lit("ivf").as("part"), col("cell").cast("long").as("k"),
        col("v1"), col("v2"))
    val c0 = curve0.toDF("k", "v1")
      .select(lit("round0").as("part"), col("k"), col("v1"), lit(0L).as("v2"))
    val c1 = day.warmCurve.toDF("k", "v1")
      .select(lit("round1").as("part"), col("k"), col("v1"), lit(0L).as("v2"))
    val out = census.unionByName(keptRow).unionByName(bandsRow)
      .unionByName(deconRow).unionByName(ivfRows)
      .unionByName(c0).unionByName(c1)
      .orderBy("part", "k")
    val ck = out.localCheckpoint(true)
    graft.Ck.release(lab0)
    graft.Ck.release(day.labels)
    graft.Ck.release(day.bands)
    graft.Ck.release(oldBands)
    graft.Ck.release(cents)
    docs.unpersist(blocking = false)
    ck
  }

  val q221Sql: String = {
    val R = 12
    val minAggs = (0 until K).map(i => s"${sqlMinhashPerm("h", i)} AS m$i")
      .mkString(",\n    ")
    s"""WITH ${takedownDayCtes(R)},
       |keptids AS MATERIALIZED (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id NOT IN (SELECT node FROM dels)
       |    AND doc_id NOT IN (SELECT node FROM p1_final WHERE node <> lbl)
       |),
       |bsh AS (
       |  SELECT doc_id, ${sqlHash28("s.s")} AS h
       |  FROM (SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents
       |        WHERE doc_id NOT IN (SELECT node FROM dels)) t, unnest(t.sh) s(s)
       |), bsig AS (
       |  SELECT doc_id, $minAggs FROM bsh GROUP BY doc_id
       |), bb AS MATERIALIZED (
       |  ${sqlBandSelects("bsig")}
       |),
       |evg AS (
       |  SELECT DISTINCT s.sg AS sg FROM (
       |    SELECT ${sqlShingles(5)} AS sh FROM documents WHERE doc_id % 17 = 0) t,
       |    unnest(t.sh) s(sg)
       |), kg AS (
       |  SELECT d.doc_id, s.sg AS sg FROM (
       |    SELECT doc_id, ${sqlShingles(5)} AS sh FROM documents
       |    WHERE doc_id IN (SELECT doc_id FROM keptids)) d, unnest(d.sh) s(sg)
       |), khits AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM kg JOIN evg USING (sg) GROUP BY doc_id
       |),
       |${graft.queries.Vectors.ivfCentCtes},
       |ddists AS (
       |  SELECT e.vec_id, cent.label,
       |    ROUND(list_sum(list_transform(range(64),
       |      i -> (CAST(e.embedding[CAST(i+1 AS INT)] AS DOUBLE) - cent.c[CAST(i+1 AS INT)])
       |         * (CAST(e.embedding[CAST(i+1 AS INT)] AS DOUBLE) - cent.c[CAST(i+1 AS INT)]))), 6) AS d2
       |  FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 10 = 0
       |), dassigned AS (
       |  SELECT vec_id, cell, d2 FROM (
       |    SELECT vec_id, label AS cell, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
       |    FROM ddists) WHERE rn = 1
       |)
       |SELECT 'comp' AS part, lbl AS k, CAST(COUNT(*) AS BIGINT) AS v1,
       |  MAX(node) AS v2 FROM p1_final GROUP BY lbl
       |UNION ALL
       |SELECT 'kept', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(doc_id) AS BIGINT) FROM keptids
       |UNION ALL
       |SELECT 'bands', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |  CAST(COUNT(DISTINCT CAST(band_idx AS VARCHAR) || '#' || band_key)
       |    AS BIGINT) FROM bb
       |UNION ALL
       |SELECT 'decon', CAST(0 AS BIGINT),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM keptids)
       |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM khits),
       |  coalesce((SELECT CAST(SUM(n) AS BIGINT) FROM khits), 0)
       |UNION ALL
       |SELECT 'ivf', CAST(cell AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(CAST(ROUND(d2 * 1000000, 0) AS BIGINT)) AS BIGINT)
       |FROM dassigned GROUP BY cell
       |UNION ALL
       |SELECT 'round0', round, mv, CAST(0 AS BIGINT) FROM p0_curve
       |WHERE round <= (SELECT r FROM p0_stop)
       |UNION ALL
       |SELECT 'round1', round, mv, CAST(0 AS BIGINT) FROM p1_curve
       |WHERE round <= (SELECT r FROM p1_stop)
       |ORDER BY part, k""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q221_corpus_day" -> q221CorpusDay _,
    "q219_takedown_dedup" -> q219TakedownDedup _,
    "q218_warm_dedup" -> q218WarmDedup _,
    "q211_containment_join" -> q211ContainmentJoin _,
    "q206_lsh_recall" -> q206LshRecall _,
    "q205_prefix_join" -> q205PrefixJoin _,
    "q189_survivorship_audit" -> q189SurvivorshipAudit _,
    "q176_winnowing" -> q176Winnowing _,
    "q158_source_neardup_matrix" -> q158SourceNeardupMatrix _,
    "q154_bow_dup" -> q154BowDup _,
    "q152_chunk_dedup" -> q152ChunkDedup _,
    "q142_fuzzy_decontaminate" -> q142FuzzyDecontaminate _,
    "q143_sketch_accuracy" -> q143SketchAccuracy _,
    "q145_transitivity_audit" -> q145TransitivityAudit _,
    "q130_threshold_sweep" -> q130ThresholdSweep _,
    "q120_dedup_ensemble" -> q120DedupEnsemble _,
    "q110_span_removal" -> q110SpanRemoval _,
    "q66_incremental_dedup" -> q66IncrementalDedup _,
    "q48_dedup_clusters" -> q48DedupClusters _,
    "q22_dedup_exact" -> q22DedupExact _,
    "q23_minhash_lsh" -> q23MinhashLsh _,
    "q24_simhash_pairs" -> q24SimhashPairs _,
    "q25_ngram_jaccard" -> q25NgramJaccard _)

  val oracles: Map[String, String] = Map(
    "q221_corpus_day" -> q221Sql,
    "q219_takedown_dedup" -> q219Sql,
    "q218_warm_dedup" -> q218Sql,
    "q211_containment_join" -> q211Sql,
    "q206_lsh_recall" -> q206Sql,
    "q205_prefix_join" -> q205Sql,
    "q189_survivorship_audit" -> q189Sql,
    "q176_winnowing" -> q176Sql,
    "q158_source_neardup_matrix" -> q158Sql,
    "q154_bow_dup" -> q154Sql,
    "q152_chunk_dedup" -> q152Sql,
    "q142_fuzzy_decontaminate" -> q142Sql,
    "q143_sketch_accuracy" -> q143Sql,
    "q145_transitivity_audit" -> q145Sql,
    "q130_threshold_sweep" -> q130Sql,
    "q120_dedup_ensemble" -> q120Sql,
    "q110_span_removal" -> q110Sql,
    "q66_incremental_dedup" -> q66Sql,
    "q48_dedup_clusters" -> q48Sql,
    "q22_dedup_exact" -> q22Sql,
    "q23_minhash_lsh" -> q23Sql,
    "q24_simhash_pairs" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql)
}
