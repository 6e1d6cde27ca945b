package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Hashing

/** The artifact bundle one [[ops.corpusDay]] run hands to the next:
  * everything a day-N+1 run needs, plus today's training-ready
  * outputs. `labels` and `bands` are MATERIALIZED (eager local
  * checkpoints here; bucketed table writes in production — see
  * [[ops.corpusDay]]) so tomorrow's run never re-derives them from
  * today's inputs; release both via [[graft.Ck.release]] once the
  * next day's artifacts supersede them. `corpus`, `kept`,
  * `keptClean`, and `ivfDelta` are lazy plans over the inputs —
  * write or consume them before releasing the inputs they read.
  */
final case class CorpusDayResult(
    corpus: DataFrame,
    kept: DataFrame,
    labels: DataFrame,
    bands: DataFrame,
    warmCurve: Seq[(Long, Long)],
    keptClean: Option[DataFrame],
    ivfDelta: Option[DataFrame])

/** The composable, user-facing operator library — the parameterized
  * forms of the pipeline shapes the qNN queries demonstrate, so a
  * user can run them on THEIR frames instead of the testdata tables.
  * Everything is a DataFrame-in/DataFrame-out transform built from
  * the same scale shapes: window passes, banded LSH blocking,
  * broadcast query sides, native heap top-k. Native join/top-k
  * operators live in [[graft.plans.ops]] (asofJoin, rangeJoin,
  * topKPerGroup); SQL functions install via [[graft.Graft.register]].
  */
object ops {

  /** Exact dedup: one surviving row per `keys` group — the survivor
    * is the row with the smallest `tiebreak` (deterministic, unlike
    * dropDuplicates' arbitrary pick). One window pass, no join.
    */
  def dedupExact(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Gap sessionization: appends `session_id` (1-based per key) that
    * increments whenever consecutive `ts` differ by more than
    * `gapSeconds`. One window pass partitioned by key.
    */
  def sessionize(df: DataFrame, key: String, ts: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val prev = lag(col(ts), 1).over(w)
    // microsecond arithmetic: unix_timestamp() truncates to whole
    // seconds and mis-splits sub-second-precision data on the boundary
    val newSession = when(prev.isNull ||
      unix_micros(col(ts)) - unix_micros(prev) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    df.withColumn("__new", newSession)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("__new")
  }

  /** Deterministic Bernoulli sample: keeps a row iff the salted md5
    * of `keyCol` falls under `keepPerMillion`. Same row set on every
    * run, every engine, every partitioning — the reproducible-split
    * primitive (train/val splits, debug subsets).
    */
  def hashSample(df: DataFrame, keyCol: String, keepPerMillion: Long,
      salt: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(salt + ":"),
      col(keyCol).cast("string"))), 1, 5), 16, 10).cast("long")
    // 20-bit hash: keep iff h * 10^6 < keep * 2^20
    df.filter(h * 1000000L < lit(keepPerMillion) * 1048576L)
  }

  /** (id, band_idx, band_key) rows for a text frame — the banded-LSH
    * blocking key every near-dup consumer here shares. Geometry
    * (signature width, bands x rows) comes from [[Hashing.MinhashK]]/
    * [[Hashing.bandStructs]] — the single source of truth also used by
    * the oracle-gated q23/q120/q142 plans, so the API can never drift
    * from them.
    */
  private def bandsOf(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).as("__id"),
        explode(Hashing.bandStructs(
          graft.functions.texthash.minhashSig(col(text)))).as("bk"))
      .select(col("__id"), col("bk.band_idx"), col("bk.band_key"))

  /** MinHash-LSH near-dup CANDIDATE pairs (i, j) with i < j: the
    * banded 12-perm signature (native codegen expression, zero
    * shuffle) split 4 bands x 3 rows; docs sharing any band bucket
    * become candidates. Candidate fan-out is bucket-bounded — never
    * all-pairs.
    */
  def nearDupCandidates(df: DataFrame, id: String, text: String,
      precomputedBands: Option[DataFrame] = None): DataFrame = {
    // r16: a caller composing several passes over ONE corpus (the
    // q218/q219/q221 day jobs run a cold labels pass AND a warm pass
    // AND materialize tomorrow's band table) can hand the band rows
    // in, so the signature scan (shingle + 12-perm minhash over the
    // full text) runs once per corpus instead of once per consumer —
    // at 100 TB that pass IS the dominant map cost. Values are
    // identical by construction (bandsOf is per-doc pure).
    val bands = precomputedBands.getOrElse(bandsOf(df, id, text))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("i"), col("b.__id").as("j"))
      .distinct()
  }

  /** Near-dup PAIRS: LSH candidates verified by exact 3-shingle
    * Jaccard >= `minJaccard`. Returns (i, j, jaccard). The shingle
    * frame is recomputed for each verify-join side rather than
    * persisted: a library call must not leave cached partitions
    * behind for the session's lifetime (the caller holds no handle to
    * unpersist), and the extra scan is a pure codegen map stage.
    * Callers iterating many times can pre-cache `df` themselves.
    */
  def nearDupPairs(df: DataFrame, id: String, text: String,
      minJaccard: Double,
      precomputedBands: Option[DataFrame] = None): DataFrame = {
    val sh = df.select(col(id).as("__id"),
      Hashing.shingles(col(text), 3).as("__sh"))
    nearDupCandidates(df, id, text, precomputedBands)
      .join(sh.select(col("__id").as("i"), col("__sh").as("__sha")), "i")
      .join(sh.select(col("__id").as("j"), col("__sh").as("__shb")), "j")
      .withColumn("jaccard", Hashing.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** Overlapping-window token chunking (the RAG splitter): one row
    * per (id, chunk_idx) with the chunk text and its token count.
    * window > stride ⇒ consecutive chunks overlap by window - stride
    * tokens. Pure generate + slice — no shuffle.
    */
  def chunk(df: DataFrame, id: String, text: String,
      window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, "need window >= stride > 0")
    val nChunks = greatest(lit(1L),
      (ceil((size(col("__ws")).cast("long") - window) / (stride * 1.0)) + 1L))
    df.select(col(id), Hashing.words(col(text)).as("__ws"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), nChunks.cast("long") - 1L)))
      .select(col(id), col("chunk_idx"),
        concat_ws(" ", slice(col("__ws"),
          (col("chunk_idx") * stride + 1L).cast("int"), lit(window)))
          .as("chunk_text"))
      .withColumn("n_tokens", size(Hashing.words(col("chunk_text"))).cast("long"))
  }

  /** Greedy sequence packing: assigns each row a `pack_id` such that
    * every pack's `nTokens` total (rows capped at `budget`) is
    * STRICTLY within `budget`. Rows are greedily first-fit in
    * `orderCol` order within a deterministic md5 shard; packs never
    * span shards. `orderCol` must be UNIQUE per row (an id): rows
    * tied on it have no defined order within a shard, so their pack
    * boundaries would vary run to run. This is genuine sequential logic — a prefix-sum
    * window can overflow the budget whenever a boundary-crossing row
    * leaves slack — so it runs as per-partition imperative code
    * (repartition by shard, sort within, one greedy pass), the
    * documented last-resort pattern, applied where declarative ops
    * cannot express the semantics. Oracle-gated by q223 (round-14):
    * the DuckDB twin replays this exact recurrence with a recursive
    * CTE, and SequencePackSpec pins a driver-side replay.
    */
  def packSequences(df: DataFrame, orderCol: String, nTokens: String,
      budget: Long, shards: Int = 64): DataFrame = {
    require(budget > 0, "budget must be positive")
    val shard = pmod(conv(substring(md5(col(orderCol).cast("string")), 1, 4),
      16, 10).cast("long"), lit(shards.toLong))
    val staged = df
      .withColumn("__shard", shard)
      .withColumn("__n", least(col(nTokens).cast("long"), lit(budget)))
      .repartition(col("__shard"))
      .sortWithinPartitions(col("__shard"), col(orderCol))
    val outSchema = staged.schema
      .add("pack_id", org.apache.spark.sql.types.LongType)
    val packed = staged.mapPartitions { it =>
      // several shards may share a partition; reset on shard change
      // (rows arrive sorted by (__shard, orderCol))
      var cur = Long.MinValue
      var acc = 0L
      var pack = 0L
      it.map { r =>
        val sh = r.getAs[Long]("__shard")
        val n = r.getAs[Long]("__n")
        if (sh != cur) { cur = sh; acc = 0L; pack = 0L }
        if (acc + n > budget) { pack += 1L; acc = 0L }
        acc += n
        // shard << 40: a 1e6 multiplier would collide once a shard
        // exceeds a million packs (plausible at corpus scale)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ((sh << 40) | pack))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    packed.drop("__shard", "__n")
  }

  /** Eval-set DECONTAMINATION: appends to each `corpus` row the
    * count `n_overlap` of distinct word 5-grams it shares with the
    * `evalSet` texts — callers apply their own threshold (q61 uses
    * `n_overlap >= 3`). The eval-gram set broadcasts (eval sets are
    * small by definition), so the corpus is one explode + broadcast
    * join pass — it never shuffles.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      id: String, text: String): DataFrame = {
    val evalGrams = evalSet
      .select(explode(Hashing.shingles(col(text), 5)).as("__sg"))
      .distinct()
    val hits = corpus
      .select(col(id), explode(Hashing.shingles(col(text), 5)).as("__sg"))
      .join(broadcast(evalGrams), "__sg")
      .groupBy(col(id)).agg(count(lit(1)).as("n_overlap"))
    corpus.join(hits, Seq(id), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
  }

  /** FUZZY eval-set decontamination (q142's parameterized form):
    * flags every `corpus` row whose text is a verified near-dup
    * (3-shingle Jaccard >= `minJaccard`) of any `evalSet` row — the
    * paraphrase-robust complement of [[decontaminate]]'s exact n-gram
    * overlap. The eval side is benchmark-sized by assumption: its
    * band keys and shingle arrays are BROADCAST, so the corpus never
    * shuffles — one map stage into a broadcast join, then a
    * candidates-only verify. Returns `corpus` plus `n_eval_matches`.
    */
  def fuzzyDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      id: String, text: String, minJaccard: Double = 0.5): DataFrame = {
    val evBands = bandsOf(evalSet, id, text)
      .select(col("band_idx"), col("band_key"), col("__id").as("__eid"))
    val cand = bandsOf(corpus, id, text)
      .join(broadcast(evBands), Seq("band_idx", "band_key"))
      .select(col("__id"), col("__eid")).distinct()
    val shc = corpus.select(col(id).as("__id"),
      Hashing.shingles(col(text), 3).as("__sha"))
    val she = evalSet.select(col(id).as("__eid"),
      Hashing.shingles(col(text), 3).as("__shb"))
    val hits = cand.join(shc, "__id").join(broadcast(she), "__eid")
      .filter(Hashing.jaccard(col("__sha"), col("__shb")) >= minJaccard)
      .groupBy(col("__id")).agg(count(lit(1)).as("n_eval_matches"))
    corpus.join(hits, corpus(id) === hits("__id"), "left")
      .drop("__id")
      .withColumn("n_eval_matches", coalesce(col("n_eval_matches"), lit(0L)))
  }

  /** K-ANONYMITY audit (q144's parameterized form): appends each
    * row's quasi-identifier group size and a `below_k` flag — rows
    * flagged 1 sit in groups smaller than `k` and are re-identifiable
    * by the `qi` tuple; callers either suppress them or coarsen a QI
    * column and re-audit. One window pass over the QI key, no join.
    */
  def kAnonymityAudit(df: DataFrame, qi: Seq[String], k: Long): DataFrame = {
    val w = Window.partitionBy(qi.map(col): _*)
    df.withColumn("qi_group_size", count(lit(1)).over(w))
      .withColumn("below_k", (col("qi_group_size") < k).cast("long"))
  }

  /** Per-group LEXICAL DRIFT (q141's parameterized form): exact-int64
    * total-variation distance between each `group`'s whitespace-token
    * unigram distribution and the whole frame's, as `tvd4` (4-dp,
    * half-up). The corpus vocabulary is broadcast to the per-group
    * count rows; the token frame shuffles once per aggregation.
    * Envelope: exact while group_tokens x total_tokens < ~2^59.
    */
  def lexicalDrift(df: DataFrame, group: String, text: String): DataFrame = {
    val toks = df.select(col(group).as("__g"),
      explode(split(col(text), " ")).as("__w"))
    val per = toks.groupBy(col("__g"), col("__w"))
      .agg(count(lit(1)).as("__c_gw"))
    val gt = per.groupBy(col("__g")).agg(sum(col("__c_gw")).as("__n_g"))
    val cw = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c_w"))
    val tot = toks.agg(count(lit(1)).as("__n"))
    per.join(broadcast(cw), "__w")
      .join(broadcast(gt), "__g")
      .crossJoin(broadcast(tot))
      .groupBy(col("__g"), col("__n_g"), col("__n"))
      .agg(sum(abs(col("__c_gw") * col("__n") - col("__c_w") * col("__n_g")))
          .as("__pnum"),
        sum(col("__c_w")).as("__cpres"))
      .withColumn("__num",
        col("__pnum") + (col("__n") - col("__cpres")) * col("__n_g"))
      .withColumn("tvd4",
        expr("(20000 * __num + 2 * __n_g * __n) div (4 * __n_g * __n)")
          / 10000.0)
      .select(col("__g").as(group), col("__n_g").as("n_tokens"), col("tvd4"))
  }

  /** Rank-based QUALITY GATE: keeps the top `keepPerMille`/1000 of
    * rows per `group` by `score` (ties broken by `tiebreak` so the
    * cut is deterministic). Rank cutoffs beat value-percentile
    * cutoffs for cross-engine and cross-run stability.
    */
  def qualityGate(df: DataFrame, group: String, score: String,
      tiebreak: String, keepPerMille: Int): DataFrame = {
    val rw = Window.partitionBy(col(group))
      .orderBy(col(score).desc, col(tiebreak))
    val nw = Window.partitionBy(col(group))
    df.withColumn("__rnk", row_number().over(rw).cast("long"))
      .withColumn("__n", count(lit(1)).over(nw))
      .filter(col("__rnk") * 1000L <= col("__n") * keepPerMille)
      .drop("__rnk", "__n")
  }

  /** Exact-substring span REMOVAL (the RefinedWeb rewrite, q110's
    * parameterized form): delete every `g`-gram of `text` that occurs
    * at least `minCount` times across the whole frame, and return the
    * input rows with `text` replaced by the reassembled cleaned string
    * plus an appended `n_removed_words`. One tokenize pass, one
    * key-bounded shuffle on the gram, a ×g bounded explode for
    * coverage, and a per-row sort for reassembly — no all-pairs
    * stage, no per-document suffix structures.
    */
  def removeRepeatedSpans(df: DataFrame, id: String, text: String,
      g: Int = 5, minCount: Int = 2): DataFrame = {
    val d = df.withColumn("__ws", split(col(text), " "))
    val grams = d.filter(size(col("__ws")) >= g)
      .select(col(id), posexplode(
        transform(sequence(lit(0), size(col("__ws")) - g),
          i => concat_ws(" ", slice(col("__ws"), i + 1, lit(g))))))
      .select(col(id), col("pos"), col("col").as("__gram"))
    val dup = grams.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= minCount)
      .select(col("__gram"))
    val covered = grams.join(dup, Seq("__gram"))
      .select(col(id),
        explode(sequence(col("pos"), col("pos") + g - 1)).as("__wpos"))
      .distinct()
    val kept = d.select(col(id), posexplode(col("__ws")))
      .select(col(id), col("pos").as("__wpos"), col("col").as("__w"))
      .join(covered, Seq(id, "__wpos"), "left_anti")
      .groupBy(col(id))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("__wpos"), col("__w")))),
          p => p.getField("__w"))).as("__cleaned"),
        count(lit(1)).as("__kept"))
    d.join(kept, Seq(id), "left")
      .withColumn(text, coalesce(col("__cleaned"), lit("")))
      .withColumn("n_removed_words",
        size(col("__ws")).cast("long") - coalesce(col("__kept"), lit(0L)))
      .drop("__ws", "__cleaned", "__kept")
  }

  /** Trailing-window z-score anomaly flags (q112's parameterized
    * form): appends a boolean `is_anomaly` to each row, true when the
    * row's `value` deviates more than `z` standard deviations from
    * the mean of the `lookback` rows before it (per `key`, ordered by
    * `ts` then `tiebreak`). The test runs in integer cents — the z²
    * comparison (n·x−Σx)² > z²·(n·Σx²−(Σx)²) — so results are exact
    * and reproducible WITHIN the int64 envelope: the largest term is
    * z²·n·Σx², so |value| must stay under ~2.2e6 (cents ≈ 2.3e8) at
    * the default lookback=20, z=3 — beyond that the comparison wraps
    * silently. Metrics outside that range should be rescaled first
    * (the same envelope bounds the streaming twin, AnomalyMonitor).
    * Rows with under `minHistory` prior points are never flagged. One
    * window pass, O(lookback) state per key.
    */
  def zscoreAnomalies(df: DataFrame, key: String, ts: String,
      value: String, tiebreak: String, lookback: Int = 20,
      z: Int = 3, minHistory: Int = 10): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col(tiebreak))
      .rowsBetween(-lookback, -1)
    df.withColumn("__x", floor(col(value) * 100))
      .withColumn("__n", count(col("__x")).over(w))
      .withColumn("__sx", sum(col("__x")).over(w))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(w))
      .withColumn("is_anomaly",
        col("__n") >= minHistory &&
          (col("__n") * col("__x") - col("__sx")) *
          (col("__n") * col("__x") - col("__sx")) >
          lit(z.toLong * z) *
            (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
      .drop("__x", "__n", "__sx", "__sxx")
  }

  /** Per-node triangle participation counts on an undirected graph
    * (q115's parameterized form — Suri-Vassilvitskii degree-ordered
    * wedges). `edges` must carry two node columns `a`/`b`; the edge
    * set is canonicalized (a<b, distinct, self-loops dropped) here.
    * Each triangle is closed exactly once, at its minimum-(degree,id)
    * vertex, so hub nodes never fan out quadratically — per-node
    * wedge generation is bounded by O(sqrt(edges)) on any graph.
    * Returns (node, n_tri). The degree table is node-sized and
    * broadcast; the only shuffles are the wedge self-join on the
    * wedge apex and the closure join on the canonical edge key.
    */
  def triangleCounts(edges: DataFrame, a: String, b: String,
      assumeCanonical: Boolean = false): DataFrame = {
    // NOT persisted here: a library call must not leave cached
    // partitions behind (the nearDupPairs invariant). The canonical
    // edge set is read three times (degree, orientation, closure) —
    // for large graphs, canonicalize once yourself, persist, and pass
    // assumeCanonical = true (q115 does exactly this).
    val und =
      if (assumeCanonical) edges.select(col(a).as("__a"), col(b).as("__b"))
      else edges
        .filter(col(a) =!= col(b))
        .select(least(col(a), col(b)).as("__a"),
          greatest(col(a), col(b)).as("__b"))
        .distinct()
    val deg = und.select(explode(array(col("__a"), col("__b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val dA = deg.select(col("v").as("__a"), col("dg").as("__da"))
    val dB = deg.select(col("v").as("__b"), col("dg").as("__db"))
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("__a") < col("__b"))
    val o = und.join(broadcast(dA), Seq("__a")).join(broadcast(dB), Seq("__b"))
      .select(when(aFirst, col("__a")).otherwise(col("__b")).as("u"),
        when(aFirst, col("__b")).otherwise(col("__a")).as("v"))
    val w1 = o.select(col("u"), col("v").as("v1"))
    val w2 = o.select(col("u"), col("v").as("v2"))
    // closure join: the WEDGE side dominates (up to sqrt(m) x edges),
    // so broadcast the canonical edge set and never shuffle wedges —
    // valid while edges fit an executor (~1 GB); beyond that drop the
    // hint and both sides shuffle on the (a, b) key
    val tri = w1.join(w2, Seq("u")).filter(col("v1") < col("v2"))
      .join(broadcast(und),
        col("v1") === col("__a") && col("v2") === col("__b"))
      .select(col("u"), col("v1"), col("v2"))
    tri.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Brute-force cosine top-k: `queries` (qid, vec) is broadcast
    * against `corpus` (id, vec); both are unit-normalized here so
    * the per-pair work is one codegen'd dot product. The corpus is
    * scanned once, and the scored stream reduces to <= k rows per
    * (query, partition) through the native partial-heap operator
    * BEFORE any exchange — a bare row_number window would shuffle the
    * whole |corpus| x |queries| scored stream to rank it. Valid while
    * the query set is broadcast-sized; above that, block both sides
    * (IVF/LSH — see q28/q42).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def normed(df: DataFrame, idName: String, vecName: String): DataFrame = {
      // positional contract (documented): first column = id, second =
      // vector; fail fast instead of MatchError / silent mis-binding
      require(df.columns.length >= 2,
        s"cosineTopK needs (id, vector) as the first two columns; " +
          s"got ${df.columns.mkString("[", ", ", "]")}")
      val Array(idCol, vecCol) = df.columns.take(2)
      val v = col(vecCol).cast("array<double>")
      val n = sqrt(graft.functions.vec.arrayDot(v, v))
      // a zero-norm vector would produce NaN cosines, and NaN sorts
      // ABOVE every real similarity — it would silently win rank 1
      df.filter(n > 0.0)
        .select(col(idCol).as(idName), transform(v, x => x / n).as(vecName))
    }
    val c = normed(corpus, "id", "__cv")
    val q = normed(queries, "qid", "__qv")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("__cos", graft.functions.vec.arrayDot(col("__cv"), col("__qv")))
      .select(col("qid"), col("id"), col("__cos"))
    val top = graft.plans.ops.topKPerGroup(scored,
      groupCols = Seq(col("qid")),
      orderCols = Seq(col("__cos").desc, col("id")), k = k)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__cos").desc, col("id"))
    top.withColumn("rank", row_number().over(w)) // over <= k rows/query
      .select(col("qid"), col("rank"), col("id"),
        round(col("__cos"), 4).as("cos_sim"))
  }

  /** Greedy MMR (maximal marginal relevance) diversified top-k with
    * lambda = 1/2 (q182's parameterized form): re-ranks each query's
    * top-`nCandidates` exact-cosine candidates into `k` results that
    * trade relevance against redundancy — pick 1 maximizes rel(d),
    * pick i maximizes rel(d) - max_{s in picked} sim(d, s). Both
    * terms are the x10000-rounded cosines in EXACT int64 (2*MMR =
    * rel - maxsim at lambda = 1/2), with an id tiebreak, so the
    * greedy chain is deterministic under any partitioning. The
    * recursion is unrolled k times as dataframe rounds over a
    * persisted |queries| x nCandidates candidate frame and its
    * pairwise-sim frame — k and nCandidates are serving-side
    * constants, so the unroll IS the scale shape; the corpus is
    * scanned once with the query side broadcast (cosineTopK's
    * envelope). Positional contract like [[cosineTopK]]: first two
    * columns of each frame are (id, vector); zero-norm vectors are
    * dropped; a corpus row whose id equals the query id is skipped
    * (self-match). Returns (qid, pos, id, rel, mmr2x).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
      nCandidates: Int = 8, k: Int = 3): DataFrame = {
    require(k >= 1 && nCandidates >= k,
      s"mmrRerank needs nCandidates >= k >= 1, got n=$nCandidates k=$k")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def normed(df: DataFrame, idName: String, vecName: String): DataFrame = {
      require(df.columns.length >= 2,
        s"mmrRerank needs (id, vector) as the first two columns; " +
          s"got ${df.columns.mkString("[", ", ", "]")}")
      val Array(idCol, vecCol) = df.columns.take(2)
      val v = col(vecCol).cast("array<double>")
      val n = sqrt(graft.functions.vec.arrayDot(v, v))
      df.filter(n > 0.0)
        .select(col(idCol).as(idName), transform(v, x => x / n).as(vecName))
    }
    val c = normed(corpus, "__id", "__cv")
    val q = normed(queries, "__qid", "__qv")
    val wTop = Window.partitionBy(col("__qid"))
      .orderBy(col("__rel").desc, col("__id"))
    val cand = c.join(broadcast(q), col("__qid") =!= col("__id"))
      .withColumn("__rel", round(graft.functions.vec
        .arrayDot(col("__qv"), col("__cv")) * 10000).cast("long"))
      .withColumn("__rk", row_number().over(wTop))
      .filter(col("__rk") <= nCandidates)
      .persist(MEMORY_AND_DISK)
    val x = cand.alias("x")
    val y = cand.alias("y")
    val sims = x.join(y, col("x.__qid") === col("y.__qid") &&
        col("x.__id") =!= col("y.__id"))
      .select(col("x.__qid").as("__qid"), col("x.__id").as("__d"),
        col("y.__id").as("__s"),
        round(graft.functions.vec.arrayDot(col("x.__cv"), col("y.__cv"))
          * 10000).cast("long").as("__sim"))
      .persist(MEMORY_AND_DISK)
    var picks = cand.filter(col("__rk") === 1)
      .select(col("__qid"), lit(1).as("pos"), col("__id").as("__pick"),
        col("__rel"), col("__rel").as("mmr2x"))
    (2 to k).foreach { pos =>
      val rest = cand.join(
        picks.select(col("__qid"), col("__pick").as("__id")),
        Seq("__qid", "__id"), "left_anti")
      val ms = sims
        .join(picks.select(col("__qid"), col("__pick").as("__s")),
          Seq("__qid", "__s"))
        .groupBy(col("__qid"), col("__d"))
        .agg(max(col("__sim")).as("__msim"))
        .withColumnRenamed("__d", "__id")
      val wSel = Window.partitionBy(col("__qid"))
        .orderBy(col("mmr2x").desc, col("__id"))
      val next = rest.join(ms, Seq("__qid", "__id"))
        .withColumn("mmr2x", col("__rel") - col("__msim"))
        .withColumn("__r", row_number().over(wSel))
        .filter(col("__r") === 1)
        .select(col("__qid"), lit(pos).as("pos"), col("__id").as("__pick"),
          col("__rel"), col("mmr2x"))
      // checkpoint the accumulated picks: each round references the
      // previous picks THREE times (anti-join, max-sim join, union),
      // so an unbounded k would otherwise grow the plan ~3^k
      val np = picks.unionByName(next).localCheckpoint(true)
      graft.Ck.release(picks) // no-op in round 2 (picks is a lazy plan)
      picks = np
    }
    val out = picks
      .select(col("__qid").as("qid"), col("pos"), col("__pick").as("id"),
        col("__rel").as("rel"), col("mmr2x"))
      .localCheckpoint(true) // |queries| x k rows
    graft.Ck.release(picks) // out is materialized off it
    cand.unpersist(blocking = false)
    sims.unpersist(blocking = false)
    out
  }

  /** Reciprocal rank fusion (q185's parameterized form, Cormack's
    * k = 60): combine ANY number of per-query rankings — lexical,
    * vector, recency, a reranker — into one fused top-`k`. Each
    * input frame carries (qid, id, rank) columns (positional: first
    * three); a hit contributes the FIXED-POINT integer
    * floor(1e9 / (60 + rank)) so the fused score is exact int64 and
    * deterministic under any partitioning; a doc missing from a
    * channel contributes 0. The fuse is a candidate-bounded
    * (qid, id) outer-merge of the channel frames — never
    * corpus-bounded; the final per-query window partitions on qid.
    * Returns (qid, fused_rank, id, rrf).
    */
  def rrfFuse(channels: Seq[DataFrame], k: Int = 5): DataFrame = {
    require(channels.nonEmpty, "rrfFuse needs at least one channel")
    require(k >= 1, s"rrfFuse needs k >= 1, got $k")
    val normed = channels.zipWithIndex.map { case (df, i) =>
      require(df.columns.length >= 3,
        s"rrfFuse channel $i needs (qid, id, rank) as the first three " +
          s"columns; got ${df.columns.mkString("[", ", ", "]")}")
      val Array(q, d, r) = df.columns.take(3)
      df.select(col(q).as("qid"), col(d).as("id"),
        (lit(1000000000L) - (lit(1000000000L) % (lit(60L) + col(r))))
          ./(lit(60L) + col(r)).cast("long").as("__rec"))
    }
    val all = normed.reduce(_ unionByName _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("id"))
    all.groupBy(col("qid"), col("id"))
      .agg(sum(col("__rec")).as("rrf"))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .select(col("qid"), col("fused_rank"), col("id"), col("rrf"))
  }

  /** Exponential-decay smoothing (EWMA, alpha = 1/2) truncated at
    * `depth` terms — appends `ewma_c4`, the smoothed level of `value`
    * in exact 4-dp cents (q153's parameterized form). With halving
    * weights the truncated EWMA is pure int64: weight 2^(depth-1-k)
    * on lag k of integer cents, so results are bit-identical under
    * any partitioning. The dropped tail mass is 2^-depth of the
    * oldest retained weight — below the 4-dp grid at the default
    * depth. Envelope: |value|·100 · 2^depth · depth must stay inside
    * int64 (~9e18); at depth=8 that allows |value| up to ~4e13.
    * One window pass, one shuffle on `key`.
    */
  def ewma(df: DataFrame, key: String, ts: String, tiebreak: String,
      value: String, depth: Int = 8): DataFrame = {
    require(depth >= 1 && depth <= 32, s"depth $depth outside [1,32]")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    def lagK(k: Int): Column =
      if (k == 0) col("__c") else lag(col("__c"), k).over(w)
    val num = (0 until depth).map { k =>
      coalesce(lagK(k), lit(0L)) * lit(1L << (depth - 1 - k))
    }.reduce(_ + _)
    val den = (0 until depth).map { k =>
      when(lagK(k).isNotNull, lit(1L << (depth - 1 - k))).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("__c", round(col(value) * 100).cast("long"))
      .withColumn("__num", num).withColumn("__den", den)
      // half-up 4-dp ratio in int64 (the queries' ratio4 idiom).
      // ASSUMES value >= 0: `div` truncates toward zero, so for a
      // negative numerator this formula is not half-up and can differ
      // from DuckDB's floor-division `//` by one ulp at the .00005
      // boundary (same envelope caveat as zscoreAnomalies).
      .withColumn("ewma_c4",
        expr("(20000 * __num + __den) div (2 * __den)") / 10000.0)
      .drop("__c", "__num", "__den")
  }

  /** Bag-of-words duplicate audit per `group` (q154's parameterized
    * form): canonicalizes each text to the md5 of its SORTED token
    * sequence, then reports per group the doc count, distinct bag
    * count, distinct byte-text count, and the two derived dup
    * signals (`bag_dup_docs`, and `shuffle_only_texts` — distinct
    * texts that collapse under bag canonicalization, i.e. pure
    * word-order shuffles). Joinless hash aggregation.
    */
  def bagDedupAudit(df: DataFrame, group: String, text: String): DataFrame =
    df.select(col(group),
        md5(array_join(array_sort(split(col(text), " ")), " ")).as("__bow"),
        md5(col(text)).as("__txt"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__bow")).as("n_bags"),
        countDistinct(col("__txt")).as("n_texts"))
      .withColumn("bag_dup_docs", col("n_docs") - col("n_bags"))
      .withColumn("shuffle_only_texts", col("n_texts") - col("n_bags"))

  /** Hard-negative mining (q155's parameterized form): for every
    * class in `label`, the `k` OTHER-class vectors closest to the
    * class centroid by cosine. Centroid components are exact decimal
    * sums (order-independent; cosine is scale-invariant so the
    * un-divided sum is the centroid direction). The centroid side is
    * label-cardinality and broadcast; the corpus is scanned once.
    * Returns (label, rank, id, neg_label, cos_sim) with the rank
    * gated on the 4-dp-rounded cosine + id tiebreak.
    */
  def hardNegatives(corpus: DataFrame, id: String, vec: String,
      label: String, k: Int = 5): DataFrame = {
    val v = col(vec).cast("array<double>")
    val cent = corpus
      .select(col(label).as("__ql"), posexplode(v).as(Seq("__d", "__v")))
      .groupBy(col("__ql"), col("__d"))
      .agg(sum(col("__v").cast("decimal(20,10)")).cast("double").as("__c"))
      .groupBy(col("__ql"))
      .agg(transform(sort_array(collect_list(struct(col("__d"), col("__c")))),
        p => p.getField("__c")).as("__cv"))
    val e = corpus.select(col(id).as("id"), col(label).as("neg_label"),
      v.as("__ev"))
    val dotc = graft.functions.vec.arrayDot _
    val rw = Window.partitionBy(col("__ql"))
      .orderBy(col("__cos").desc, col("id"))
    broadcast(cent).join(e, col("__ql") =!= col("neg_label"))
      .withColumn("__cos", round(
        dotc(col("__cv"), col("__ev")) /
          (sqrt(dotc(col("__cv"), col("__cv"))) *
            sqrt(dotc(col("__ev"), col("__ev")))), 4))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("__ql").as(label), col("rank"), col("id"),
        col("neg_label"), col("__cos").as("cos_sim"))
  }

  /** Word-concentration quality signal (q156's parameterized form):
    * per `id`, the Herfindahl index of the word-frequency
    * distribution (`hhi4` = sum of squared frequency shares) and the
    * top-word share — the repetitiveness axis type-token ratio and
    * adjacent-dup-n-gram rules both miss. Exact int64 ratios on the
    * 4-dp half-up grid; explode + two partially-combined aggregates,
    * no joins.
    */
  def wordConcentration(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(split(col(text), " ")).as("__w"))
      .groupBy(col(id), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(sum(col("__c")).as("n_words"),
        sum(col("__c") * col("__c")).as("__sq"),
        max(col("__c")).as("__top"))
      .withColumn("hhi4",
        expr("(20000 * __sq + n_words * n_words) div " +
          "(2 * n_words * n_words)") / 10000.0)
      .withColumn("top_share4",
        expr("(20000 * __top + n_words) div (2 * n_words)") / 10000.0)
      .drop("__sq", "__top")

  /** One synchronous label-propagation round (q157's parameterized
    * form, with a REAL label table instead of the query's derivable
    * labels): every node in `edges` adopts the most frequent label
    * among its neighbors, ties toward the smallest label. Returns
    * (id, old_label, new_label) — nodes absent from `labels` or with
    * no edges are absent from the output. Scale shape: one 2m-row
    * undirected explode, one node-keyed label join, one map-side
    * combined count, one per-node argmax window — no all-pairs stage,
    * no global window.
    */
  def labelPropagationRound(edges: DataFrame, src: String, dst: String,
      labels: DataFrame, id: String, label: String): DataFrame = {
    val lbl = labels.select(col(id).as("__n"), col(label).as("__l"))
    val nbrs = edges.select(col(src).as("__node"), col(dst).as("__nbr"))
      .unionByName(edges.select(col(dst).as("__node"), col(src).as("__nbr")))
    val counts = nbrs
      .join(lbl.withColumnRenamed("__n", "__nbr"), "__nbr")
      .groupBy(col("__node"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__node"))
      .orderBy(col("__c").desc, col("__l").asc)
    val won = counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__node"), col("__l").as("new_label"))
    won.join(lbl.select(col("__n").as("__node"), col("__l").as("old_label")),
        "__node")
      .select(col("__node").as(id), col("old_label"), col("new_label"))
  }

  /** End-to-end near-duplicate REMOVAL — the q23 -> q48 -> q57
    * pipeline as one call, the operation a corpus owner actually
    * runs: banded-LSH candidates verified at 3-shingle Jaccard >=
    * `minJaccard`, transitively clustered with
    * [[connectedComponents]], one survivor kept per cluster under
    * `policy`, everything else dropped; singletons pass through
    * untouched with the original schema. Policies (deterministic,
    * tiebreak to min id — both engines and any partitioning pick the
    * same survivors; q189 measures how much the choice matters —
    * on its corpus "richest" flips 10 of 23 survivors vs min_id):
    * "min_id" (q57's reproducible rule), "longest" (keep the member
    * with the largest `lengthCol`), and "richest" (keep the member
    * with the most DISTINCT words — q189's lexical-value rule,
    * computed internally from `text` with the q189 tokenizer, no
    * extra column needed; diverges from "longest" exactly when a
    * long member is repetitive). Scale shape: the pair graph and
    * everything derived from it are near-dup-subset-sized (orders
    * smaller than the corpus); clustering runs the pointer-jump loop
    * on that subset; the final removal is one anti-join of the drop
    * list against the corpus. `broadcastDrops = true` hints that
    * anti-join's build side — right while the dup subset fits an
    * executor; pass false once it doesn't (the ~terabyte-dup-set
    * case) and the anti-join runs co-partitioned on the id, with AQE
    * still free to pick a broadcast when runtime stats allow it.
    */
  def nearDupDedup(df: DataFrame, id: String, text: String,
      minJaccard: Double = 0.5, policy: String = "min_id",
      lengthCol: Option[String] = None,
      broadcastDrops: Boolean = true): DataFrame = {
    require(Seq("min_id", "longest", "richest").contains(policy),
      s"nearDupDedup policy must be min_id, longest, or richest, got '$policy'")
    require(policy != "longest" || lengthCol.nonEmpty,
      "nearDupDedup policy 'longest' needs lengthCol")
    val pairs = nearDupPairs(df, id, text, minJaccard)
      .select(col("i"), col("j"))
    val (labels, _) = connectedComponents(pairs, "i", "j")
    val keyCols = Seq(col(id).as("__id")) ++
      lengthCol.map(c => col(c).as("__len")) ++
      (if (policy == "richest")
         // q189's n_dwords: distinct-word count over the shared
         // tokenizer — computed only for cluster members (the join
         // below prunes first), never over the whole corpus
         Seq(size(array_distinct(Hashing.words(col(text))))
           .cast("long").as("__rich"))
       else Nil)
    val m = labels.select(col("id").as("__id"), col("component").as("__c"))
      .join(df.select(keyCols: _*), "__id")
    val order = policy match {
      case "min_id" => Seq(col("__id").asc)
      case "longest" => Seq(col("__len").desc, col("__id").asc)
      case _ => Seq(col("__rich").desc, col("__id").asc)
    }
    val w = Window.partitionBy(col("__c")).orderBy(order: _*)
    val drops = m.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("__id").as(id))
    df.join(if (broadcastDrops) broadcast(drops) else drops,
      Seq(id), "left_anti")
  }

  /** Cold near-dup LABELING run — the state-producing half of the
    * incremental dedup contract: LSH pairs at `minJaccard`, then the
    * min-label cc fixpoint. Returns ((id, component) over the dup
    * subset, movement curve). Docs absent from the labels are
    * singletons. Feed the labels into [[nearDupDedupIncremental]]
    * tomorrow.
    */
  def nearDupLabels(df: DataFrame, id: String, text: String,
      minJaccard: Double = 0.5,
      precomputedBands: Option[DataFrame] = None)
    : (DataFrame, Seq[(Long, Long)]) =
    connectedComponentsCurve(
      nearDupPairs(df, id, text, minJaccard, precomputedBands)
        .select(col("i"), col("j")),
      "i", "j")

  /** The banded-LSH blocking rows for `df` — (__id, band_idx,
    * band_key), the per-doc pure function every near-dup consumer
    * here shares. PUBLIC so a production pipeline can materialize
    * yesterday's band table once (write it bucketed by band_key)
    * and hand it to [[nearDupDedupIncremental]] as `oldBands` on
    * day N — the old corpus's signature scan then drops out of the
    * incremental pass entirely.
    */
  def nearDupBands(df: DataFrame, id: String, text: String): DataFrame =
    bandsOf(df, id, text)

  /** The DELTA near-dup pairs an insert-only changelog introduces:
    * every verified pair touching at least one NEW doc. Band
    * membership is a pure per-doc function, so joining only the
    * new-side band rows against the union's band rows finds exactly
    * the pairs the full candidate join would emit minus yesterday's
    * old x old pairs (whose verdicts are embodied in the previous
    * labels). The verify join then carries delta-pair candidates
    * only — never the whole corpus's. `oldBands` (from
    * [[nearDupBands]], usually a materialized table) replaces the
    * old side's signature recomputation when provided.
    */
  private[graft] def incrementalNearDupPairs(oldDf: DataFrame,
      newDf: DataFrame, id: String, text: String,
      minJaccard: Double,
      oldBands: Option[DataFrame] = None,
      pinCandidates: Boolean = false): DataFrame =
    incrementalNearDupPairsEx(oldDf, newDf, id, text, minJaccard,
      oldBands, pinCandidates)._1

  /** [[incrementalNearDupPairs]] plus the pinned-candidate handle
    * (see [[verifyPairs]]) for precise release — use this form
    * whenever pinning standalone (probe, specs): release the handle
    * after the pair frame's last action, never the pair frame
    * itself.
    */
  private[graft] def incrementalNearDupPairsEx(oldDf: DataFrame,
      newDf: DataFrame, id: String, text: String,
      minJaccard: Double,
      oldBands: Option[DataFrame],
      pinCandidates: Boolean): (DataFrame, Option[DataFrame]) = {
    val bNew = bandsOf(newDf, id, text)
    val bAll = oldBands.getOrElse(bandsOf(oldDf, id, text))
      .unionByName(bNew)
    val cand0 = bNew.alias("a").join(bAll.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("i"),
        greatest(col("a.__id"), col("b.__id")).as("j"))
      .distinct()
    verifyPairs(cand0, oldDf.unionByName(newDf), id, text, minJaccard,
      pinCandidates)
  }

  /** Shared verify stage of the delta-pair paths: exact 3-shingle
    * Jaccard over the candidate endpoints. Default shape joins the
    * candidates against the full `corpus` shingle frame — the same
    * two corpus-sized exchanges the cold path pays, fine when the
    * candidates touch most of the corpus. With `pinCandidates` the
    * (delta-pair-sized) candidate frame is materialized ONCE
    * (measured stats — a multi-join plan's inherited estimate is the
    * joins' product) and its endpoint id set broadcast-semi-filters
    * the shingle scan MAP-SIDE, so the verify exchanges carry only
    * candidate-adjacent docs — delta-proportional bytes instead of
    * corpus-proportional, the difference between a 1% changelog day
    * and a full re-verify at 100 TB. Opt-in: the id set must fit a
    * broadcast (one long per candidate-adjacent doc — true for
    * changelog-sized deltas, not for a backfill that touches the
    * whole corpus), and the caller owns the pinned blocks. Returns
    * the pair frame plus the pinned candidate frame (None when not
    * pinning) — release THAT handle, not the pair frame: the pin
    * cuts lineage through the band/label side, but the pair frame's
    * SHINGLE side still reaches any checkpointed corpus inputs
    * (a checkpointed corpus, the delete list behind a surviving-old
    * anti-join), and Ck.release on the pair frame would release
    * those too while they still have consumers.
    *
    * Fits-a-broadcast is MEASURED, not assumed (round-10): the pin's
    * eager checkpoint makes the candidate count a block-local job, so
    * past [[PinVerifyMaxPairs]] the semi-filter auto-falls-back to
    * the full shingle scan — the cold shape, correct at any size —
    * while the pin itself (measured stats on the multi-join candidate
    * frame) is kept. That makes pinning a safe DEFAULT on the CDC
    * entry points: a changelog-sized day gets the delta-proportional
    * exchanges, a whole-corpus backfill degrades to exactly the cold
    * plan instead of an oversized broadcast.
    */
  private def verifyPairs(cand0: DataFrame, corpus: DataFrame,
      id: String, text: String, minJaccard: Double,
      pinCandidates: Boolean): (DataFrame, Option[DataFrame]) = {
    val pinned =
      if (!pinCandidates) None
      else Some(org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
        cand0.localCheckpoint(true)))
    val cand = pinned.getOrElse(cand0)
    val shAll = corpus.select(col(id).as("__id"),
      Hashing.shingles(col(text), 3).as("__sh"))
    val semiFilter = pinned.isDefined && cand.count() <= PinVerifyMaxPairs
    val sh =
      if (!semiFilter) shAll
      else shAll.join(
        broadcast(cand.select(explode(array(col("i"), col("j")))
          .as("__id")).distinct()),
        Seq("__id"), "left_semi")
    val out = cand
      .join(sh.select(col("__id").as("i"), col("__sh").as("__sha")), "i")
      .join(sh.select(col("__id").as("j"), col("__sh").as("__shb")), "j")
      .filter(Hashing.jaccard(col("__sha"), col("__shb")) >= minJaccard)
      .select(col("i"), col("j"))
    (out, pinned)
  }

  /** [[verifyPairs]]'s broadcast envelope: the most candidate pairs
    * whose endpoint id set the delta-proportional semi-filter will
    * broadcast (≤ 2 longs per pair — ~2M pairs keeps the built hash
    * relation in the tens of MB). Past it the verify keeps the pin
    * but scans the full corpus shingles — the cold shape.
    */
  private val PinVerifyMaxPairs = 2L << 20

  /** INCREMENTAL near-dup dedup (q218's parameterized form) — the
    * growing-corpus case [[nearDupDedup]] recomputes from scratch:
    * yesterday's corpus `oldDf` with its dup labels `prevLabels`
    * (from [[nearDupLabels]] or a previous call of this), today's
    * shard `newDf` (INSERTS-only changelog — deletions are the
    * re-seed path [[incrementalConnectedComponents]] owns). Three
    * incremental savings vs the cold run:
    *  - candidate generation: only band buckets touched by a NEW
    *    doc join ([[incrementalNearDupPairs]]) — old x old buckets
    *    never re-verify;
    *  - clustering: the old pair graph is replaced by its STAR
    *    compression (component -> member edges from prevLabels —
    *    connectivity-equivalent and min-label-equivalent because it
    *    preserves each component's node set, and dup-subset-sized)
    *    unioned with the delta pairs, and the fixpoint warm-starts
    *    from prevLabels via [[incrementalConnectedComponents]]
    *    (inserts never invalidate a min-label) — movement reflects
    *    only the delta's disturbance;
    *  - survivors: min-id policy makes the survivor the component
    *    label itself, so no per-cluster re-ranking pass exists.
    * Returns (kept union corpus, new labels, warm movement curve) —
    * kept is provably row-equal to nearDupDedup(old ∪ new, min_id)
    * (IncrementalDedupSpec pins it); thread the labels into the
    * next day's call.
    * Scale shape: one linear band scan per side — pass `oldBands`
    * (yesterday's [[nearDupBands]] table, materialized and bucketed
    * by band_key) and the OLD side's signature scan drops out too —
    * a bucket-bounded candidate join, a delta-pair-sized verify
    * join, star+delta-sized cc rounds, one drop anti-join against
    * the union corpus. `pinCandidates` additionally makes the verify
    * EXCHANGES delta-proportional (see [[verifyPairs]]) — ON by
    * default since round 10: the fits-a-broadcast proviso is now
    * measured inside the verify (a delta past the envelope
    * auto-falls-back to the cold full-scan shape), and this entry
    * point owns the pinned blocks' release, so the default is safe
    * at any delta size. Pass false only to force the cold verify
    * shape (e.g. when even one eager candidate materialization is
    * unwanted).
    */
  def nearDupDedupIncremental(oldDf: DataFrame, newDf: DataFrame,
      id: String, text: String, prevLabels: DataFrame,
      minJaccard: Double = 0.5, broadcastDrops: Boolean = true,
      oldBands: Option[DataFrame] = None,
      pinCandidates: Boolean = true)
    : (DataFrame, DataFrame, Seq[(Long, Long)]) = {
    val (pd, pinnedCand) = incrementalNearDupPairsEx(oldDf, newDf, id,
      text, minJaccard, oldBands, pinCandidates)
    val star = prevLabels.filter(col("id") =!= col("component"))
      .select(col("component").as("i"), col("id").as("j"))
    val edges1 = star.unionByName(pd).distinct()
    // inserts-only changelog: the deleted-edge set is empty by
    // contract, so no component re-seeds — every previous label is
    // a valid warm-start seed (see incrementalConnectedComponents)
    val (labels, curve) =
      try incrementalConnectedComponents(
        prevLabels, edges1, edges1.limit(0), "i", "j")
      catch { // the eager pin must not outlive a failed day run
        case t: Throwable => pinnedCand.foreach(graft.Ck.release); throw t
      }
    // the loop's persisted neighbor list was pd's only consumer and
    // the returned labels are a fresh checkpoint — release exactly
    // the pinned handle (releasing pd itself would also walk into
    // any checkpointed CORPUS inputs still feeding `kept`)
    pinnedCand.foreach(graft.Ck.release)
    val drops = labels.filter(col("id") =!= col("component"))
      .select(col("id").as(id))
    val kept = oldDf.unionByName(newDf).join(
      if (broadcastDrops) broadcast(drops) else drops,
      Seq(id), "left_anti")
    (kept, labels, curve)
  }

  /** FULL-CDC near-dup dedup (q219's parameterized form) —
    * [[nearDupDedupIncremental]] extended with TAKEDOWNS, the other
    * half of a production changelog (DMCA removals, opt-outs,
    * retention expiry): `deletedIds` lists docs removed from
    * yesterday's corpus `oldDf`, `newDf` is today's inserts. A
    * takedown only ever REMOVES pairs, so the incremental contract
    * splits the previous clustering three ways:
    *
    *  - components untouched by any deletion carry forward as their
    *    star compression, labels kept (exactly the inserts-only
    *    path);
    *  - components containing a deleted doc are DISTURBED — a
    *    removed bridge doc can split one — so their surviving
    *    members' true pair structure is re-derived from the band
    *    table (every still-valid old pair with a disturbed endpoint
    *    has BOTH endpoints in the disturbed survivor set, because a
    *    pair implies same old component), and the warm fixpoint
    *    re-seeds exactly those components to identity
    *    ([[incrementalConnectedComponents]]'s delete path);
    *  - insert pairs come from band buckets a NEW doc touches,
    *    against the SURVIVING corpus only — a deleted doc never
    *    re-enters through its old bucket.
    *
    * Every per-day input is changelog- or disturbed-subset-sized:
    * the delete list and disturbed-component list broadcast, the
    * re-verify self-join runs on disturbed-survivor band rows only,
    * and with `oldBands` (yesterday's materialized [[nearDupBands]]
    * table) the surviving old corpus is never re-scanned for
    * signatures — one anti-join filters the band table instead.
    * Returns (kept survivors of (old minus deleted) union new, new
    * labels, warm movement curve); kept is provably row-equal to
    * nearDupDedup on the surviving union (IncrementalDedupSpec pins
    * it, including a planted bridge-takedown split). The inserts-only
    * case is [[nearDupDedupIncremental]]'s zero-overhead
    * specialization of this.
    *
    * `broadcastAffected` hints the disturbed-survivor restriction
    * joins' build side — right while the disturbed clusters'
    * membership fits an executor (a changelog-sized disturbance on
    * ordinary clusters). One takedown inside a GIANT cluster
    * (boilerplate/template dup classes run to millions of members)
    * makes the disturbed-survivor set cluster-sized, not
    * changelog-sized — pass false there and the restriction runs as
    * a shuffled join, with AQE still free to pick a broadcast from
    * runtime stats (the same escape hatch as `broadcastDrops`).
    * `pinCandidates` makes the verify exchanges delta-proportional
    * (see [[verifyPairs]]) — ON by default since round 10, with the
    * fits-a-broadcast proviso measured inside the verify (an
    * over-envelope delta auto-falls-back to the cold full-scan
    * shape); this entry point owns the pinned blocks' release.
    */
  def nearDupDedupDelta(oldDf: DataFrame, newDf: DataFrame,
      deletedIds: DataFrame, id: String, text: String,
      prevLabels: DataFrame, minJaccard: Double = 0.5,
      broadcastDrops: Boolean = true, oldBands: Option[DataFrame] = None,
      broadcastAffected: Boolean = true, pinCandidates: Boolean = true)
    : (DataFrame, DataFrame, Seq[(Long, Long)]) = {
    val del = deletedIds.select(col(id).as("id")).distinct()
    // components a takedown disturbs — changelog-sized, broadcast
    val aff = prevLabels.join(del, "id").select(col("component")).distinct()
    val survOld = oldDf.join(broadcast(del.select(col("id").as(id))),
      Seq(id), "left_anti")
    val (pairs, pinnedCand) = takedownPairsCore(del, aff, survOld, newDf,
      prevLabels, id, text, minJaccard, oldBands, broadcastAffected,
      pinCandidates)
    // star edges carry only the UNDISTURBED components forward
    val star = prevLabels.filter(col("id") =!= col("component"))
      .join(broadcast(aff), Seq("component"), "left_anti")
      .select(col("component").as("i"), col("id").as("j"))
    val edges1 = star.unionByName(pairs).distinct()
    // marking each deleted doc as a self-edge deletion makes the
    // warm fixpoint's affected set exactly `aff` — disturbed
    // components re-seed to identity, everything else keeps labels
    val delEdges = del.select(col("id").as("i"), col("id").as("j"))
    val (labels, curve) =
      try incrementalConnectedComponents(
        prevLabels, edges1, delEdges, "i", "j")
      catch { // the eager pin must not outlive a failed day run
        case t: Throwable => pinnedCand.foreach(graft.Ck.release); throw t
      }
    // labels are a fresh checkpoint; the pinned candidate blocks
    // (if any) have no remaining consumer — release exactly that
    // handle (releasing the pair frame itself would also walk into
    // checkpointed CORPUS-side inputs like `deletedIds`, which
    // `kept` still reads through survOld)
    pinnedCand.foreach(graft.Ck.release)
    val drops = labels.filter(col("id") =!= col("component"))
      .select(col("id").as(id))
    val kept = survOld.unionByName(newDf).join(
      if (broadcastDrops) broadcast(drops) else drops,
      Seq(id), "left_anti")
    (kept, labels, curve)
  }

  /** ONE-CALL day-N corpus maintenance (round-10): the orchestrated
    * form of the CDC family — every piece exists and is tested
    * separately ([[nearDupBands]] reuse → [[nearDupDedupDelta]]'s
    * delta pairs + warm cc + survivorship → [[ivfAssign]] →
    * [[decontaminate]]), but a production pipeline runs them as one
    * job with ARTIFACT HANDOFFS, which is exactly where the
    * release-discipline trap lives (the `Ck.release` whole-plan-walk
    * collateral found in round 9). This method owns that discipline:
    * yesterday's artifacts in (corpus, labels, materialized band
    * table), today's changelog in (inserts + takedowns), tomorrow's
    * artifacts out.
    *
    * Steps, each changelog- or delta-proportional (never
    * corpus-proportional beyond the one unavoidable linear pass the
    * cold pieces already pay):
    *  1. full-CDC dedup via [[nearDupDedupDelta]] (band-table reuse,
    *     star-compressed carry, disturbed-only re-verify, warm
    *     fixpoint, pinned delta-proportional verify by default);
    *  2. tomorrow's BAND TABLE: yesterday's minus deleted docs plus
    *     the new docs' bands — band membership is per-doc pure, so
    *     the surviving old corpus is never re-scanned; materialized
    *     (eager checkpoint; a bucketed-by-band_key table write in
    *     production) with measured stats;
    *  3. optionally, today's survivors exact-decontaminated against
    *     an eval set ([[decontaminate]]; filter n_overlap = 0 for
    *     the training shard);
    *  4. optionally, the new docs' embeddings assigned to the frozen
    *     IVF index ([[ivfAssign]] — a pure map stage).
    *
    * End-state equality with the cold composition (dedup on the
    * surviving union, bands recomputed from scratch, decontaminate /
    * ivfAssign direct) is pinned in CorpusDaySpec, including a
    * two-day chain. Release discipline: this method releases every
    * internal handle; the RETURNED `labels`/`bands` checkpoints are
    * the caller's, released when day N+1's artifacts supersede them
    * (CorpusDaySpec pins the leak count).
    *
    * When `oldBands` is None (a day-0 / bootstrap call) the old
    * side's bands are derived from `oldDf` in one linear scan — pass
    * yesterday's materialized table on every steady-state day.
    */
  def corpusDay(oldDf: DataFrame, newDf: DataFrame,
      deletedIds: DataFrame, id: String, text: String,
      prevLabels: DataFrame, oldBands: Option[DataFrame] = None,
      minJaccard: Double = 0.5,
      evalSet: Option[DataFrame] = None,
      newVectors: Option[DataFrame] = None,
      centroids: Option[DataFrame] = None,
      vecId: String = "vec_id", vecCol: String = "embedding")
    : CorpusDayResult = {
    require(newVectors.isEmpty == centroids.isEmpty,
      "corpusDay: newVectors and centroids come together (the delta " +
        "IVF step needs both the day's embeddings and the frozen index)")
    val del = deletedIds.select(col(id)).distinct()
    val (kept, labels, curve) = nearDupDedupDelta(
      oldDf, newDf, del, id, text, prevLabels,
      minJaccard = minJaccard, oldBands = oldBands)
    // tomorrow's corpus: the lazy surviving union (what `kept` was
    // derived from); callers write it or thread it into day N+1
    val survOld = oldDf.join(broadcast(del), Seq(id), "left_anti")
    val corpus = survOld.unionByName(newDf)
    // tomorrow's band table: per-doc purity makes it composable —
    // filter yesterday's, append today's. Measured stats on the
    // checkpoint: the anti-join + union plan's inherited estimate
    // would mis-plan tomorrow's bucket joins.
    val bands = org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
      oldBands.map(_.join(broadcast(del.select(col(id).as("__id"))),
          Seq("__id"), "left_anti"))
        .getOrElse(nearDupBands(survOld, id, text))
        .unionByName(nearDupBands(newDf, id, text))
        .localCheckpoint(true))
    val keptClean = evalSet.map(ev => decontaminate(kept, ev, id, text))
    val ivfDelta = for (v <- newVectors; c <- centroids)
      yield ivfAssign(v, c, vecId, vecCol)
    CorpusDayResult(corpus, kept, labels, bands, curve, keptClean, ivfDelta)
  }

  /** The lazy pair frame behind [[nearDupDedupDelta]] — re-derived
    * pairs within disturbed components plus insert pairs against the
    * surviving corpus, verified in one join. Exposed separately so
    * PlanQualitySpec can pin the plan shape: band-key equi-joins
    * only, the re-verify side restricted to disturbed-survivor band
    * rows via a broadcast, never a cross product. (Thin wrapper
    * deriving the changelog frames; [[nearDupDedupDelta]] calls the
    * core directly so each derivation exists once in its plan.)
    */
  private[graft] def takedownNearDupPairs(oldDf: DataFrame,
      newDf: DataFrame, deletedIds: DataFrame, prevLabels: DataFrame,
      id: String, text: String, minJaccard: Double,
      oldBands: Option[DataFrame] = None,
      broadcastAffected: Boolean = true,
      pinCandidates: Boolean = false): DataFrame =
    takedownNearDupPairsEx(oldDf, newDf, deletedIds, prevLabels, id,
      text, minJaccard, oldBands, broadcastAffected, pinCandidates)._1

  /** [[takedownNearDupPairs]] plus the pinned-candidate handle (see
    * [[verifyPairs]]) for precise release when pinning standalone.
    */
  private[graft] def takedownNearDupPairsEx(oldDf: DataFrame,
      newDf: DataFrame, deletedIds: DataFrame, prevLabels: DataFrame,
      id: String, text: String, minJaccard: Double,
      oldBands: Option[DataFrame] = None,
      broadcastAffected: Boolean = true,
      pinCandidates: Boolean = false): (DataFrame, Option[DataFrame]) = {
    val del = deletedIds.select(col(id).as("id")).distinct()
    val aff = prevLabels.join(del, "id").select(col("component")).distinct()
    val survOld = oldDf.join(broadcast(del.select(col("id").as(id))),
      Seq(id), "left_anti")
    takedownPairsCore(del, aff, survOld, newDf, prevLabels, id, text,
      minJaccard, oldBands, broadcastAffected, pinCandidates)
  }

  private def takedownPairsCore(del: DataFrame, aff: DataFrame,
      survOld: DataFrame, newDf: DataFrame, prevLabels: DataFrame,
      id: String, text: String, minJaccard: Double,
      oldBands: Option[DataFrame], broadcastAffected: Boolean,
      pinCandidates: Boolean): (DataFrame, Option[DataFrame]) = {
    def hinted(df: DataFrame): DataFrame =
      if (broadcastAffected) broadcast(df) else df
    // surviving old band rows: the materialized table minus deleted
    // docs, or one linear scan of the surviving old corpus
    val survBands = oldBands
      .map(_.join(broadcast(del.select(col("id").as("__id"))),
        Seq("__id"), "left_anti"))
      .getOrElse(bandsOf(survOld, id, text))
    // (1) re-derive pairs WITHIN disturbed components: the self-join
    // runs on disturbed-survivor band rows only (see
    // [[nearDupDedupDelta]] for why no valid pair escapes this set)
    val affSurv = prevLabels.join(hinted(aff), "component")
      .join(del, Seq("id"), "left_anti")
      .select(col("id").as("__id"))
    val affBands = survBands.join(hinted(affSurv), "__id")
    val candRe = affBands.alias("a").join(affBands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("i"), col("b.__id").as("j"))
    // (2) insert pairs: buckets touched by a NEW doc, against the
    // surviving corpus
    val bNew = bandsOf(newDf, id, text)
    val candNew = bNew.alias("a")
      .join(survBands.unionByName(bNew).alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("i"),
        greatest(col("a.__id"), col("b.__id")).as("j"))
    // one verify join serves both candidate families
    val cand = candRe.unionByName(candNew).distinct()
    verifyPairs(cand, survOld.unionByName(newDf), id, text, minJaccard,
      pinCandidates)
  }

  /** Cross-group near-dup contamination matrix (q158's parameterized
    * form): LSH-banded candidates verified at 3-shingle Jaccard >=
    * `minJaccard`, attributed to the canonicalized (group_a, group_b)
    * pair. Diagonal rows are within-group dup mass; off-diagonal is
    * cross-group leakage (mirrors, syndication). Output is
    * O(groups^2) whatever the corpus size; the only non-equi work is
    * the band-bucket self-join nearDupCandidates already bounds.
    */
  def sourceNeardupMatrix(df: DataFrame, id: String, group: String,
      text: String, minJaccard: Double = 0.5): DataFrame = {
    val g = df.select(col(id).as("__id"), col(group).as("__g"))
    nearDupPairs(df, id, text, minJaccard)
      .join(g.select(col("__id").as("i"), col("__g").as("__gi")), "i")
      .join(g.select(col("__id").as("j"), col("__g").as("__gj")), "j")
      .select(least(col("__gi"), col("__gj")).as("group_a"),
        greatest(col("__gi"), col("__gj")).as("group_b"),
        when(col("__gi") <= col("__gj"), col("i")).otherwise(col("j"))
          .as("__da"),
        when(col("__gi") <= col("__gj"), col("j")).otherwise(col("i"))
          .as("__db"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("__da")).as("n_docs_a"),
        countDistinct(col("__db")).as("n_docs_b"))
  }

  /** Context-length packing curve (q159's parameterized form): for
    * each candidate context length, the chunk-and-pad batching cost
    * of the `nTokens` column per `group` — docs that fit whole,
    * ceil-division chunk count, padding waste, and fill rate (exact
    * int64 on the 4-dp half-up grid). The explode multiplies a
    * 2-column frame by |ctxs|, never the text.
    */
  def packingCurve(df: DataFrame, group: String, nTokens: String,
      ctxs: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)): DataFrame = {
    require(ctxs.nonEmpty && ctxs.forall(_ >= 1), s"bad ctxs $ctxs")
    df.select(col(group), col(nTokens).cast("long").as("__tok"))
      .withColumn("ctx", explode(array(ctxs.map(lit): _*)))
      .withColumn("__chunks",
        expr("(__tok + ctx - 1) div ctx"))
      .groupBy(col(group), col("ctx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__tok") <= col("ctx"), 1L).otherwise(0L)).as("n_fit"),
        sum(col("__chunks")).cast("long").as("n_chunks"),
        sum(col("__tok")).cast("long").as("n_tokens"))
      .withColumn("pad_waste", col("n_chunks") * col("ctx") - col("n_tokens"))
      .withColumn("fill_rate",
        expr("(20000 * n_tokens + n_chunks * ctx) div " +
          "(2 * n_chunks * ctx)") / 10000.0)
  }

  /** Embedding-dimension Pearson correlation matrix (q160's
    * parameterized form): the first `dims` components of `vec`,
    * quantized to int64 at `scale` so every sufficient statistic is
    * exact and order-independent, correlated pairwise from ONE grand
    * aggregate (all sums map-side combined — the exchange carries one
    * partial row per task). Returns (dim_i, dim_j, corr) for the
    * upper triangle, corr on the 4-dp grid. Envelope: n · (|v|·scale)²
    * must stay inside int64; widen the sums to decimal(38) past that.
    */
  def dimensionCorrelation(df: DataFrame, vec: String, dims: Int = 8,
      scale: Long = 1000L): DataFrame = {
    require(dims >= 2 && dims <= 64, s"dims $dims outside [2,64]")
    val qs = (0 until dims).map { i =>
      round(element_at(col(vec), i + 1).cast("double") * scale, 0)
        .cast("long").as(s"__q$i")
    }
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
        (0 until dims).map(i => sum(col(s"__q$i")).as(s"__s$i")) ++
        (for { i <- 0 until dims; j <- i until dims }
          yield sum(col(s"__q$i") * col(s"__q$j")).as(s"__p${i}_$j"))
    val g = df.select(qs: _*).agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- 0 until dims; j <- i + 1 until dims } yield {
      val num = (col("__n") * col(s"__p${i}_$j") - col(s"__s$i") * col(s"__s$j"))
        .cast("double")
      val di = (col("__n") * col(s"__p${i}_$i") - col(s"__s$i") * col(s"__s$i"))
        .cast("double")
      val dj = (col("__n") * col(s"__p${j}_$j") - col(s"__s$j") * col(s"__s$j"))
        .cast("double")
      struct(lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        round(num / sqrt(di * dj), 4).as("corr"))
    }
    g.select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.dim_i"), col("__p.dim_j"), col("__p.corr"))
  }

  /** DSIR-style importance resampling (q164's parameterized form):
    * score each row's whitespace-tokenized `text` by the add-1-
    * smoothed hashed-n-gram (unigram + bigram, `buckets` buckets)
    * likelihood ratio of the `isTarget` slice vs the whole frame, in
    * exact 4-dp int64 fixed point, and keep rows with probability
    * ~min(1, ratio) via the deterministic md5-uniform on `id`.
    * Returns the input row plus `score_e4` (int64) and `kept`
    * (boolean). The `buckets`-row rate table is broadcast; the frame
    * is scanned twice (count pass, score pass) — recompute beats
    * caching a corpus-tokens-sized frame at scale. Envelope:
    * (t_f+1)·(C+B)·10^4 must stay inside int64 — at ~10^12-token
    * scale split the 10^4 lift into a two-step div.
    */
  def importanceResample(df: DataFrame, id: String, text: String,
      isTarget: Column, buckets: Long = 512L): DataFrame = {
    require(buckets >= 2, s"buckets $buckets < 2")
    val ws = split(col(text), " ").as("__ws")
    val base = df.select(col(id).as("__id"), isTarget.as("__t"), ws)
    val feats = base.select(col("__id"), col("__t"), explode(concat(
        col("__ws"),
        when(size(col("__ws")) > 1,
          transform(sequence(lit(1), size(col("__ws")) - 1),
            i => concat_ws(" ", element_at(col("__ws"), i),
              element_at(col("__ws"), i + 1))))
          .otherwise(array().cast("array<string>")))).as("__g"))
      .select(col("__id"), col("__t"),
        (Hashing.hash28(col("__g")) % buckets).as("__f"))
    val counts = feats.groupBy(col("__f"))
      .agg(count(lit(1)).as("__cf"), count(when(col("__t"), 1)).as("__tf"))
    val totals = counts.agg(sum(col("__cf")).as("__ct"), sum(col("__tf")).as("__tt"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("__f"), expr(
        s"((__tf + 1) * (__ct + $buckets) * 10000) div ((__cf + 1) * (__tt + $buckets))"
      ).as("__rate"))
    val scored = feats.join(broadcast(rates), "__f")
      .groupBy(col("__id"))
      .agg(expr("sum(__rate) div count(1)").as("score_e4"))
    df.join(scored.withColumnRenamed("__id", id), id)
      .withColumn("kept",
        Hashing.hash28(col(id).cast("string")) % 10000L < col("score_e4"))
  }

  /** Connected components to a data-driven fixpoint (q161's
    * parameterized form): alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii — "Connected Components in MapReduce and Beyond",
    * SoCC'14) over the canonical (min, max) edge set. The round-10
    * engine was min-label propagation with a pointer jump
    * (l(u) <- l(l(u))); the round-11 A/B (SURVEY.md §7.16; its dev
    * harness is in git history) measured why that loses:
    * a pointer jump only doubles reach along label CHAINS, which
    * branchy graphs do not form, so the q161 graph at
    * sf0.1 needs 9 label-prop rounds where star contraction needs 5
    * — and at this scale wall = rounds x per-job floor (bench_detail
    * r10: cc task-time is a third of loop wall across 32 cores), so
    * wall followed the round count: cold 4.99 -> 2.32 s, warm
    * 5.21 -> 2.77 s, labels bit-identical.
    *
    * One alternation = ONE checkpoint job running both phases:
    *  - large-star: every larger neighbor v of u connects to
    *    m(u) = min(N(u) ∪ {u});
    *  - small-star: every smaller partner of u (and u itself)
    *    connects to u's smallest partner.
    * Both preserve connectivity; the set converges to a STAR FOREST
    * (each component one star centered at its min node id) in
    * O(log n) alternations, and the re-checkpointed state SHRINKS
    * toward |nodes| star edges instead of carrying a static edge
    * list plus a node-sized label table through every round — the
    * property that matters at 100 TB, where later rounds touch a
    * fraction of the input. Loop hygiene is unchanged (CcLoopSpec
    * pins it): each alternation's edge set is
    * localCheckpoint(eager)-ed with measured stats — one job serves
    * the convergence count (ridden via graft.Loop) and the next
    * round — and the plan a round builds on never grows (swap for
    * reliable checkpoint() on a cluster so a lost executor never
    * replays earlier rounds). Bounded-round guard fails loudly,
    * never spins. Scale shape per alternation: two window passes +
    * one aggregation, no joins — three edge-bounded exchanges (on u,
    * on b, on the output pair), every frame shrinking round over
    * round; a hub's whole neighbourhood sits in one window task (see
    * [[star2Round]]). Returns the (id, component) frame — component
    * is the smallest member node id — and the alternation count.
    *
    * Guard tuning: `maxRounds = 50` is a FAILURE bound, not a stop
    * rule — star contraction needs O(log n) alternations (5-7
    * measured on every graph in the suite), so 50 covers any
    * realistic input; hitting it means the input is pathological
    * (e.g. a mutating edge frame), and the loud `require` should
    * fire rather than ship a half-converged labeling. Raise it only
    * with a measured round curve in hand (the `probe` hook exposes
    * it).
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50,
      probe: (Int, DataFrame) => Unit = (_, _) => ()): (DataFrame, Int) = {
    val (labels, curve) =
      connectedComponentsCurve(edges, src, dst, maxRounds, probe)
    (labels, curve.length)
  }

  /** [[connectedComponents]] returning the full per-round movement
    * curve (round, edges the alternation CHANGED — zero means the
    * set is a stable star forest) instead of just the round count —
    * the warm-start consumers (q217,
    * [[incrementalConnectedComponents]]) ship both curves so an
    * early/late stop is oracle-visible. (Movement counts changed
    * EDGES since the round-11 two-phase engine; the retired
    * label-prop engine counted moved labels.)
    */
  def connectedComponentsCurve(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50,
      probe: (Int, DataFrame) => Unit = (_, _) => ())
    : (DataFrame, Seq[(Long, Long)]) =
    star2Core(ccCanon(edges, src, dst).distinct(), "cc", maxRounds, probe)

  /** WARM-START / INCREMENTAL connected components (q217's
    * parameterized form — q178's CDC discipline applied to cc, the
    * growing-dedup-graph case): given the PREVIOUS fixpoint's
    * (id, component) labels, the new edge set, and the edges the
    * changelog DELETED, converge on the new graph starting from the
    * new edges PLUS every still-valid label as a SHORTCUT EDGE
    * (component, id) — connectivity-equivalent (both endpoints
    * shared a previous component that survives intact), so the star
    * contraction starts one hop from done on undisturbed structure:
    *
    *  - inserts alone never invalidate a label (an old component is
    *    a connected subgraph of its new, possibly merged component,
    *    and its label edge already stars it onto its old min — the
    *    new component's min node m is its own old component's min);
    *  - deletes can SPLIT, so every component touching a deleted
    *    edge contributes NO shortcut edges (its structure
    *    re-verifies from the raw new edges), while untouched
    *    components enter pre-contracted;
    *  - nodes unseen by `prevLabels` (fresh insert endpoints) enter
    *    with their raw edges only.
    *
    * The warm loop's movement then reflects only the delta's
    * disturbance: an insert-dominated changelog (today's shard onto
    * yesterday's corpus) converges in fewer, near-empty alternations
    * — CcLoopSpec asserts the advantage on the same delta graph.
    * Returns (labels, movement curve). Scale shape per alternation
    * is [[connectedComponents]]'s: two window passes + one
    * aggregation, no joins; the init costs one
    * node-keyed join + one broadcast of the DISTINCT
    * affected-component list (changelog-sized, not corpus-sized),
    * plus one node-sized guard job (below). Shortcut edges are
    * canonical by construction (a component label is the min member
    * id, so component < id on every kept row).
    *
    * CONTRACT: `deletedEdges` must cover every edge present in the
    * previous graph but absent from `edges` — an under-reported
    * delete can keep a shortcut edge whose component node no longer
    * exists, silently GRAFTING a departed node id back into the
    * output labeling. The detectable subset (label holder absent
    * from the new node set) is guarded loudly here before the loop
    * runs.
    */
  def incrementalConnectedComponents(prevLabels: DataFrame,
      edges: DataFrame, deletedEdges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50,
      probe: (Int, DataFrame) => Unit = (_, _) => ())
    : (DataFrame, Seq[(Long, Long)]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val affected = ccAffected(prevLabels, deletedEdges, src, dst)
    val canon = ccCanon(edges, src, dst).persist(MEMORY_AND_DISK)
    try {
      val nodes = canon.select(col("a").as("id"))
        .unionByName(canon.select(col("b").as("id"))).distinct()
      val le = ccLabelEdges(nodes, prevLabels, affected)
      // loud stale-label guard (see CONTRACT above): every shortcut
      // edge's component must name a node of the NEW graph, else the
      // contraction would graft a departed node id into the labeling.
      // One node-sized anti-join over the persisted canonical edges —
      // cheap next to a single alternation, and it catches caller
      // under-reporting of deletes instead of returning a corrupt
      // labeling.
      require(le.select(col("a").as("id")).distinct()
          .join(nodes, Seq("id"), "left_anti").isEmpty,
        "incrementalConnectedComponents: a kept previous label names a node " +
          "absent from the new edge set — deletedEdges under-reports the " +
          "changelog (every edge removed since prevLabels' graph must be listed)")
      star2Core(canon.unionByName(le).distinct(), "cc_warm", maxRounds, probe)
    } finally canon.unpersist(blocking = false)
  }

  /** The components a changelog's deleted edges disturb —
    * changelog-sized, broadcast into the warm shortcut-edge build.
    * Factored out so the SQL-driven warm loop
    * ([[SqlSurface.ccWarmLoopSqlOn]]) can be pinned plan-equal to
    * this exact production body.
    */
  private[graft] def ccAffected(prevLabels: DataFrame,
      deletedEdges: DataFrame, src: String, dst: String): DataFrame =
    prevLabels
      .join(deletedEdges.select(col(src).as("id"))
        .unionByName(deletedEdges.select(col(dst).as("id"))).distinct(), "id")
      .select(col("component")).distinct()

  /** The warm-start SHORTCUT edges over an (id)-shaped node set:
    * one (component, id) edge per kept label of an undisturbed
    * component — delete-disturbed components and fresh nodes
    * contribute nothing (the [[incrementalConnectedComponents]]
    * contract). Factored out so the SQL-driven warm loop can be
    * pinned plan-equal to this exact production body.
    */
  private[graft] def ccLabelEdges(nodes: DataFrame, prevLabels: DataFrame,
      affected: DataFrame): DataFrame =
    nodes
      .join(prevLabels, Seq("id"), "inner")
      .join(broadcast(affected.withColumn("__aff", lit(1L))),
        Seq("component"), "left")
      .filter(col("__aff").isNull && col("component") =!= col("id"))
      .select(col("component").as("a"), col("id").as("b"))

  /** Canonical (a, b) = (min, max) edge projection shared by the cc
    * entry points — self-loops dropped, NOT deduplicated (callers
    * fold the distinct into their init union).
    */
  private[graft] def ccCanon(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))

  /** One large-star + small-star alternation over a canonical
    * (a < b, distinct) edge frame — the production cc round body
    * (SqlSurface.ccRoundSql is pinned plan-equal to it). Returns
    * (a, b, chg): the next canonical edge set with a conservative
    * per-group changed flag whose zero-count certifies convergence —
    * no chg rows <=> the set is a stable star forest. Flags: a
    * large-star group changed iff its min m(u) != u (the emitted
    * (m, v) then differ from the consumed (u, v)); a small-star
    * group changed iff it saw more than one distinct smaller
    * partner, OR any consumed edge carried a large-phase flag (every
    * edge lands in exactly one small-star group — its larger
    * endpoint's — so a large rewrite is never lost to the
    * regrouping). Canonicality is preserved by construction: a
    * large-star emission pairs m <= u < v; a small-star emission
    * pairs the group minimum against a strictly larger partner.
    *
    * Shape: the reducer form of Kiveris et al. — each phase is ONE
    * window pass whose partition sees the node's whole neighbourhood
    * (large-star over `u`, small-star over `b`), then one
    * aggregation on (sa, sb); no joins, three exchanges. The large
    * phase keeps duplicate (m, v) emissions instead of deduplicating
    * them: `max(a) > min(a)` over a group is exactly "more than one
    * distinct smaller partner", and the final max(gc) per (sa, sb)
    * absorbs the duplicates, so the rows equal the older
    * aggregate-then-join-back round (CcPropertySpec keeps that body
    * as its reference). Cost: a hub's whole neighbourhood lands in
    * one window task, where the older round pre-aggregated it
    * map-side.
    */
  private[graft] def star2Round(e: DataFrame): DataFrame = {
    val nbr = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val byU = Window.partitionBy(col("u"))
    val large = nbr
      .select(col("u"), col("v"), least(min(col("v")).over(byU), col("u")).as("m"))
      .filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"), (col("m") =!= col("u")).as("c"))
    val byB = Window.partitionBy(col("b"))
    val small = large.select(col("a"), col("b"),
      min(col("a")).over(byB).as("m"),
      (max(col("c")).over(byB) ||
        (max(col("a")).over(byB) > min(col("a")).over(byB))).as("gc"))
    small
      .select(explode(array(
        struct(col("m").as("sa"), col("a").as("sb"), col("gc"),
          (col("a") =!= col("m")).as("keep")),
        struct(col("m").as("sa"), col("b").as("sb"), col("gc"),
          lit(true).as("keep")))).as("r"))
      .filter(col("r.keep"))
      .groupBy(col("r.sa").as("sa"), col("r.sb").as("sb"))
      .agg(max(col("r.gc")).as("chg"))
      .select(col("sa").as("a"), col("sb").as("b"), col("chg"))
  }

  /** The two-phase fixpoint over a caller-built canonical edge plan
    * (cold: the deduplicated canon projection; warm: canon unioned
    * with the kept-label shortcut edges), driven by graft.Loop.fixpoint:
    * the init checkpoint carries measured stats (the warm init is a
    * multi-join plan whose inherited size estimate is the joins'
    * product; round 1 must plan from the real edge count), and each
    * alternation's changed-edge count rides its checkpoint job. The
    * final star forest reads back as (id, component): leaves carry
    * their center, centers carry themselves (distinct over the small
    * center set). Rounds are recorded under `loop` ("cc" cold,
    * "cc_warm" warm).
    */
  private def star2Core(e0: DataFrame, loop: String, maxRounds: Int,
      probe: (Int, DataFrame) => Unit): (DataFrame, Seq[(Long, Long)]) = {
    val (e, curve) = graft.Loop.fixpoint(loop, e0, count_if(col("chg")),
      maxRounds, probe = probe)(star2Round)
    (e.select(col("b").as("id"), col("a").as("component"))
        .unionByName(
          e.select(col("a").as("id"), col("a").as("component")).distinct()),
      curve)
  }

  /** Register-sketch distinct-count estimate per group (q191's
    * parameterized form — the HyperLogLog shape): one 28-bit hash per
    * value, 64 max-registers per group, exact-int64 harmonic estimate
    * with the linear-counting small-range switch. All primitives come
    * from [[Hashing]] (single source of truth), so this, q191's
    * oracle-gated query, and the streaming
    * [[graft.streaming.DistinctMonitor]] produce bit-identical
    * registers and estimates. Scale shape: the register table is the
    * ONLY state — |groups| x 64 longs whatever the corpus size — and
    * builds via a two-level partial aggregate (map-side max combine
    * before the exchange); registers of dataset unions merge with
    * element-wise MAX, which is what makes the sketch distributable.
    * Accuracy envelope at m = 64: ~13% relative error beyond the
    * linear-counting range — measure on your corpus with q191's audit
    * before trusting it (est 403 vs exact 500 on the sf0.01 corpus).
    * Returns (group, n_est).
    */
  def distinctSketch(df: DataFrame, group: String, value: Column): DataFrame = {
    val h = Hashing.hash28(value.cast("string"))
    val regs = df.select(col(group).as("__g"),
        (h % lit(Hashing.HllM)).as("__b"), Hashing.hllRho(h).as("__rho"))
      .groupBy(col("__g"), col("__b")).agg(max(col("__rho")).as("__r"))
    val buckets = df.sparkSession.range(Hashing.HllM)
      .select(col("id").as("__b"))
    val dense = regs.select(col("__g")).distinct()
      .crossJoin(broadcast(buckets))
      .join(regs, Seq("__g", "__b"), "left")
      .select(col("__g"), coalesce(col("__r"), lit(0L)).as("__r"))
    dense.groupBy(col("__g"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - __r AS INT))"))
          .as("__S"),
        sum(when(col("__r") === 0L, 1L).otherwise(0L)).as("__V"))
      .select(col("__g").as(group),
        Hashing.hllEstimate(col("__S"), col("__V")).as("n_est"))
  }

  /** Deterministic per-epoch shard assignment (q174's parameterized
    * form): shard = h28("ep<epoch>:" || id) mod shards — reproducible
    * across reruns, reshuffled between epochs, and a pure map stage
    * (the only shape that survives 100 TB; exact-balance round-robin
    * needs a global row_number). Adds a `shard` column; balance holds
    * in expectation — audit it with the q174 query before trusting a
    * layout.
    */
  def epochShard(df: DataFrame, id: String, epoch: Int,
      shards: Int): DataFrame = {
    require(shards > 0, s"epochShard needs shards > 0, got $shards")
    df.withColumn("shard",
      Hashing.hash28(concat(lit(s"ep$epoch:"), col(id).cast("string"))) %
        lit(shards.toLong))
  }

  /** One-pass multi-pattern blocklist audit (q173's parameterized
    * form): per-needle occurrence totals and docs-hit over a text
    * column via the compiled Aho-Corasick expression
    * (`functions/MultiMatch.scala`) — the corpus is read ONCE for the
    * whole needle set, never once per needle. Overlapping and nested
    * matches all count (position-scan semantics). Scale shape: one
    * kernel evaluation per row fanned into per-needle columns (no
    * row-multiplying explode), one partially-aggregated global pass.
    */
  def blocklistAudit(df: DataFrame, text: String,
      needles: Seq[String]): DataFrame = {
    require(needles.nonEmpty, "blocklistAudit needs at least one needle")
    val ids = needles.indices
    val perDoc = df
      .select(graft.functions.scrub
        .multiMatchCount(col(text), needles).as("__c"))
      .select(ids.map(i => element_at(col("__c"), i + 1).as(s"__m$i")): _*)
    val aggs = ids.flatMap(i => Seq(
      sum(col(s"__m$i")).as(s"__s$i"),
      count(when(col(s"__m$i") > 0L, 1)).as(s"__d$i")))
    val rows = array(ids.map(i => struct(
      lit(i.toLong).as("needle_id"),
      lit(needles(i)).as("needle"),
      col(s"__d$i").as("n_docs"),
      col(s"__s$i").as("n_matches"))): _*)
    perDoc.agg(aggs.head, aggs.tail: _*)
      .select(explode(rows).as("__r"))
      .select(col("__r.needle_id"), col("__r.needle"),
        col("__r.n_docs"), col("__r.n_matches"))
  }

  /** Multi-source BFS to frontier exhaustion (q172's parameterized
    * form): hop distances from a seed predicate over an undirected
    * edge set — Pregel-style message passing where per-round work is
    * proportional to the FRONTIER, not the node set. Per hop: one
    * node-keyed edge join (the edge list is repartitioned by node
    * once before the persist, so hops reuse that co-location — the
    * bucketing shape at 100 TB), anti-joins against the LAST TWO
    * levels only, and ONE localCheckpoint(eager) whose single
    * materialization serves the frontier-empty stop probe and the
    * next hop (reliable checkpoint() on a cluster). Nodes in
    * seedless components come back dist = -1. Returns the (id, dist)
    * frame and the hop count (the final hop is the empty probe).
    *
    * Round-10 shape (the scale-bytes lever, measured): the previous
    * loop re-checkpointed the whole visited accumulator every hop —
    * a SECOND job per round and O(n·hops) materialized bytes — and
    * anti-joined the full node-sized accumulator. Now each level
    * checkpoints once (every node materializes exactly once across
    * the sweep) and the visited check uses only levels d and d−1,
    * which is EXACT on an undirected graph: a neighbor of a dist-d
    * node has dist ≥ d−1, so excluding those two levels from the
    * frontier's neighbor set leaves precisely level d+1. One job per
    * hop, frontier-proportional anti-joins at any scale. Honest
    * local numbers (q216 BenchOne A/B at sf0.1): ~12.8 s vs the
    * accumulator shape's ~11.7 s — the halved job count does NOT
    * show locally (two per-level anti-join builds replace one
    * accumulator scan, a wash against the per-job floor); the win
    * is the O(n·hops) → O(n) materialized-bytes drop and the
    * frontier-sized (never node-sized) anti-join inputs, which is
    * what matters on a graph that doesn't fit one executor. (A
    * chain-k-levels-into-one-job variant was also built and
    * measured WORSE — 12→20 s — because each in-job level's
    * distinct-shuffle subtree is re-evaluated by every level after
    * it; rejected.) The returned dist frame unions the level
    * checkpoints — release it (graft.Ck.release walks all levels)
    * after its last consumer, as before.
    *
    * Guard tuning: `maxHops = 40` is a FAILURE bound — BFS runs
    * exactly ecc(seeds) hops (the seed set's eccentricity), and
    * real-world / power-law graphs sit far below 40; a long chain
    * graph is the one honest case that needs it raised. Hitting the
    * guard otherwise means the frontier never drained — fail loudly,
    * inspect the hop curve via `probe`, then raise deliberately.
    */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
      isSeed: Column => Column, maxHops: Int = 40,
      probe: (Int, DataFrame) => Unit = (_, _) => ()): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE pass over the caller's edge frame (it may be an expensive
    // unpersisted derivation): the unfiltered endpoint union serves
    // both the node set and, self-loop-filtered, the traversal list
    val endpoints = edges
      .select(col(src).as("__node"), col(dst).as("__nbr"))
      .unionByName(edges.select(col(dst).as("__node"), col(src).as("__nbr")))
      .persist(MEMORY_AND_DISK)
    val nbrs = endpoints
      .filter(col("__node") =!= col("__nbr"))
      .repartition(col("__node"))
      .persist(MEMORY_AND_DISK)
    // Node set from the UNFILTERED endpoints: a node whose only edges
    // are self-loops still appears (dist = -1, or 0 if it is a seed)
    // even though self-loops carry no traversal and are dropped above.
    val nodes = endpoints.select(col("__node"))
      .distinct().localCheckpoint(true)
    val seed = nodes.filter(isSeed(col("__node")))
      .select(col("__node"))
      .localCheckpoint(true)
    // per-level NODE-ONLY checkpoints, newest first — together they
    // ARE the visited set; nothing is ever re-copied. Node-only is
    // deliberate (round-12): the old shape projected
    // `lit(hop).as("__dist")` inside the hop plan, and that changing
    // literal made every hop's whole-stage-codegen source UNIQUE —
    // one fresh Janino class per hop per run, which both recompiles
    // on every hop (the 100-entry codegen cache can't hold a
    // 60-hop sweep's worth of one-off sources) and fills the JIT
    // code cache across a bench session (the r11 tail-spike class).
    // With the literal gone every hop reuses ONE cached plan; the
    // hop number is attached below in `withDist`, a plan-only union
    // that executes once at assembly time, never per hop.
    var levels: List[DataFrame] = List(seed)
    var frontier = seed // level d
    var prevNodes = seed.filter(lit(false)) // level d-1
    // distances view, grown one union branch per hop (plan objects
    // only — the per-branch literal projection is a trivial Project
    // over a checkpoint scan, compiled once at the final assembly)
    var withDist = seed.select(col("__node"), lit(0L).as("__dist"))
    var hop = 0
    var exhausted = false
    while (!exhausted && hop < maxHops) {
      hop += 1
      // frontier-empty check rides the checkpoint job (graft.Loop);
      // the two-level visited check is exact (scaladoc proof). ONE
      // anti-join against the UNION of levels d and d−1 (r17): the
      // two-anti-join shape paid one extra broadcast-build job per
      // hop — a per-hop floor cost on every sweep (q216 runs ~38
      // hops/query) — for identical semantics.
      val (fresh, nFresh) = graft.Loop.checkpoint(
        nbrs.join(frontier, "__node")
          .select(col("__nbr").as("__node")).distinct()
          .join(frontier.unionByName(prevNodes), Seq("__node"), "left_anti"),
        count(lit(1)))
      exhausted = nFresh == 0L
      if (!exhausted) {
        levels ::= fresh
        withDist = withDist.unionByName(
          fresh.select(col("__node"), lit(hop.toLong).as("__dist")))
        prevNodes = frontier
        frontier = fresh
      } else {
        graft.Ck.release(fresh) // empty probe frame
      }
      probe(hop, withDist)
    }
    nbrs.unpersist(blocking = false)
    endpoints.unpersist(blocking = false)
    // the level checkpoints must not outlive a tripped guard
    if (!exhausted) { levels.foreach(graft.Ck.release); graft.Ck.release(nodes) }
    require(exhausted, s"BFS frontier not exhausted in $maxHops hops")
    val dist = nodes.join(withDist, Seq("__node"), "left")
      .select(col("__node").as("id"),
        coalesce(col("__dist"), lit(-1L)).as("dist"))
    (dist, hop)
  }

  /** SAMPLED CLOSENESS CENTRALITY (Eppstein & Wang 2001): per-seed
    * multi-source BFS over a deterministic seed sample, aggregated
    * into the closeness estimator ĉ(v) = n_seed(v) / Σ_s d(s,v) —
    * the standard way centrality is computed at graph scale, where
    * exact all-pairs BFS is Θ(nm) and out of reach. Eppstein–Wang:
    * Θ(log n / ε²) sampled sources estimate every closeness within
    * ±ε·diameter w.h.p., so the seed predicate is the
    * accuracy/memory knob. Returns (per-node frame `(node, n_seed,
    * sum_d, cent_e6)`, hop count); nodes reaching no seed report
    * (0, 0, 0). cent_e6 = (1e6·n_seed) div sum_d is integer-exact
    * across engines.
    *
    * Loop shape (r17: ops.bfsDistances' PER-LEVEL checkpoints,
    * keyed by (node, seed)): the neighbor list is repartitioned by
    * node ONCE and every hop joins on it co-partitioned; each hop
    * checkpoints ONLY its fresh (node, seed, dist) pairs with the
    * fresh-pair count riding the same job (graft.Loop.checkpoint), and
    * the level list IS the visited set — total materialized bytes
    * are O(pairs), not the accumulator shape's O(pairs × hops)
    * re-copy per hop (the r10 bfsDistances argument, measured here:
    * the r16 driver run re-wrote the full ~300k-pair accumulator on
    * every one of 17 hops). The visited check anti-joins the last
    * TWO levels only, which is exact per seed on an undirected
    * graph: a neighbor of a dist-d pair has dist ≥ d−1, so excluding
    * levels d and d−1 from the expansion leaves precisely level d+1.
    * Per-hop distance derives from the frontier's dist + 1 column
    * arithmetic — no changing literal, so every hop reuses one
    * codegen class (the r12 finding). State is O(nodes × seeds)
    * pairs — exactly the Eppstein–Wang space bound; at 100 TB the
    * seed fraction shrinks as log n / n while the frame stays
    * shuffle-partitioned on node, never driver-held.
    */
  def closenessSample(edges: DataFrame, src: String, dst: String,
      isSeed: Column => Column, maxHops: Int = 41,
      probe: (Int, DataFrame) => Unit = (_, _) => ())
    : (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val endpoints = edges
      .select(col(src).as("__node"), col(dst).as("__nbr"))
      .unionByName(edges.select(col(dst).as("__node"), col(src).as("__nbr")))
      .persist(MEMORY_AND_DISK)
    val nbrs = endpoints
      .filter(col("__node") =!= col("__nbr"))
      .repartition(col("__node"))
      .persist(MEMORY_AND_DISK)
    val nodes = endpoints.select(col("__node"))
      .distinct().localCheckpoint(true)
    val seeds = nodes.filter(isSeed(col("__node")))
      .select(col("__node"), col("__node").as("__seed"), lit(0L).as("__dist"))
      .localCheckpoint(true)
    // per-level pair checkpoints, newest first — together they ARE
    // the visited set; nothing is ever re-copied (bfsDistances' r10
    // shape). `visited` below is a PLAN-ONLY union view over them,
    // grown one branch per hop for the probe hook and the final
    // aggregation; it executes once at assembly, never per hop.
    var levels: List[DataFrame] = List(seeds)
    var frontier = seeds // level d
    var prevPairs = seeds.filter(lit(false)) // level d-1
    var visited = seeds
    var hop = 0
    var exhausted = false
    while (!exhausted && hop < maxHops) {
      hop += 1
      // fresh-pair count rides the level checkpoint job (graft.Loop);
      // the two-level visited check is exact (scaladoc proof). ONE
      // anti-join against the UNION of the two levels, not one
      // anti-join per level: each broadcast build is its own AQE job,
      // and the probe read the two-anti-join shape at +15 jobs/run
      // (17 hops x one extra broadcast) for identical semantics.
      val (fresh, nNew) = graft.Loop.checkpoint(
        nbrs.join(frontier, "__node")
          .groupBy(col("__nbr"), col("__seed"))
          .agg(min(col("__dist") + 1L).as("__dist"))
          .select(col("__nbr").as("__node"), col("__seed"), col("__dist"))
          .join(frontier.select(col("__node"), col("__seed"))
              .unionByName(prevPairs.select(col("__node"), col("__seed"))),
            Seq("__node", "__seed"), "left_anti"),
        count(lit(1)))
      exhausted = nNew == 0L
      if (!exhausted) {
        levels ::= fresh
        visited = visited.unionByName(fresh)
        prevPairs = frontier
        frontier = fresh
      } else {
        graft.Ck.release(fresh) // empty probe frame
      }
      probe(hop, visited)
    }
    nbrs.unpersist(blocking = false)
    endpoints.unpersist(blocking = false)
    // the level checkpoints must not outlive a tripped guard
    if (!exhausted) { levels.foreach(graft.Ck.release); graft.Ck.release(nodes) }
    require(exhausted, s"closeness BFS not exhausted in $maxHops hops")
    graft.LoopStats.recordLoop("closeness", hop.toLong)
    val perNode = visited.groupBy(col("__node"))
      .agg(count(lit(1)).as("n_seed"), sum(col("__dist")).as("sum_d"))
    val cent = nodes.join(perNode, Seq("__node"), "left")
      .select(col("__node").as("node"),
        coalesce(col("n_seed"), lit(0L)).as("n_seed"),
        coalesce(col("sum_d"), lit(0L)).as("sum_d"))
      .withColumn("cent_e6",
        when(col("sum_d") > 0,
          expr("(1000000 * n_seed) div sum_d")).otherwise(lit(0L)))
    (cent, hop)
  }

  /** Synchronous k-core peel to a data-driven fixpoint (q181's
    * parameterized form): each round removes every node whose degree
    * WITHIN the surviving induced subgraph is below k, and stops when
    * a round removes nothing — the standard degeneracy/robustness
    * decomposition (spam-farm detection, dense-community seeding).
    * A thin adapter over Mining's one peel driver
    * (`Mining.kcorePeel`, the q181 core): edges are undirected,
    * self-loops are dropped before the node set is derived (a
    * self-loop-only node is absent from the alive set, every probe
    * frame and the result), and duplicate edges in either
    * orientation count once. The driver repartitions the neighbour
    * list by node once, and the survivor set is broadcast into both
    * endpoint joins only while it fits the session's broadcast
    * threshold. Returns the (id, core_degree) table — empty when the
    * graph dissolves — and the data-driven round count (the
    * stable-detection round included).
    *
    * Guard tuning: `maxRounds = 40` is a FAILURE bound — peel depth
    * is the graph's degeneracy-layer count, single digits on
    * power-law graphs; a long-chain graph peeled with k = 2 is the
    * one honest shape that needs it raised. Hitting the guard
    * otherwise means the peel never stabilized — fail loudly,
    * inspect the census curve via `probe`, then raise deliberately.
    */
  def kcore(edges: DataFrame, src: String, dst: String, k: Int,
      maxRounds: Int = 40,
      probe: (Int, DataFrame) => Unit = (_, _) => ()): (DataFrame, Int) = {
    require(k > 0, s"kcore needs k > 0, got $k")
    val (core, rounds) = graft.queries.Mining.kcorePeel(
      edges.select(col(src).as("a"), col(dst).as("b")), k, maxRounds, probe)
    (core.select(col("node").as("id"), col("deg").as("core_degree")), rounds)
  }

  /** Newman-modularity sufficient statistics of a node partition
    * (q180's parameterized form) — the eval harness for any
    * community assignment (connectedComponents, label propagation,
    * an external clusterer): per community, the intra-edge count
    * m_c, the endpoint-degree sum d_c, the member count, and the
    * common-denominator numerator contrib_4m2 = 4·m·m_c − d_c², so
    * Q = Σ contrib_4m2 / (4·m²) with no floats anywhere (int64-safe
    * while the audited graph holds under ~1.5e9 edges — the binding
    * term is 4·m² ≤ 2⁶³−1, i.e. m ≤ ~1.518e9 ≈ 2^30.5, not 2^31;
    * audit per-shard graphs or widen to decimal beyond). Edges are
    * treated as undirected; self-loops are dropped; edges with an
    * unlabeled endpoint are ignored (label coverage is the caller's
    * contract). A label class with no intra edges — or no edges at
    * all — still reports a row, with zeros: dropping it would
    * overstate Q. One pass over the edge list (labels are node-sized
    * and broadcast to both endpoints; one persisted labeled-edge
    * frame feeds all three aggregates).
    */
  def modularityAudit(edges: DataFrame, src: String, dst: String,
      labels: DataFrame, id: String, label: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lab = labels.select(col(id).as("__id"), col(label).as("__lbl"))
    val el = edges
      .select(col(src).as("__a"), col(dst).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .join(broadcast(lab.select(col("__id").as("__a"), col("__lbl").as("__la"))),
        "__a")
      .join(broadcast(lab.select(col("__id").as("__b"), col("__lbl").as("__lb"))),
        "__b")
      .persist(MEMORY_AND_DISK)
    val m = el.agg(count(lit(1)).as("__m"))
    val intra = el.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__c")).agg(count(lit(1)).as("__intra"))
    val degs = el.select(col("__la").as("__c"))
      .unionByName(el.select(col("__lb").as("__c")))
      .groupBy(col("__c")).agg(count(lit(1)).as("__deg"))
    val census = lab.groupBy(col("__lbl").as("__c"))
      .agg(count(lit(1)).as("__n"))
    val out = census
      // community-sized aggregates: hint the broadcast (no stats)
      .join(broadcast(intra), Seq("__c"), "left")
      .join(broadcast(degs), Seq("__c"), "left")
      .crossJoin(broadcast(m))
      .select(col("__c").as("community"), col("__n").as("n_nodes"),
        coalesce(col("__intra"), lit(0L)).as("intra_edges"),
        coalesce(col("__deg"), lit(0L)).as("degree_sum"),
        (lit(4L) * col("__m") * coalesce(col("__intra"), lit(0L))
          - coalesce(col("__deg"), lit(0L))
            * coalesce(col("__deg"), lit(0L))).as("contrib_4m2"))
      .localCheckpoint(true) // community-sized; frees the edge frame
    el.unpersist(blocking = false)
    out
  }

  /** Lloyd's k-means to a reassignment-threshold stop (q163's
    * parameterized form). Centroids are DRIVER state — model
    * parameters, k × dims doubles, control-plane-sized at any corpus
    * scale — shipped into the assignment stage as a literal each
    * round, so assignment is a pure map stage (zero shuffle). Per
    * round the cluster-side work is one assignment pass over the
    * persisted points, one partially-aggregated (cell, dim) mean
    * exchange, and one id-keyed join against the previous assignment
    * for the reassignment count (bucket/co-partition at scale). The
    * (id, cell) assignment — no payload — is localCheckpoint-ed per
    * round (flat lineage; reliable checkpoint() on a cluster). Empty
    * cells carry the previous centroid forward. Means use the
    * order-independent decimal(20,10) sum rounded to 4dp, so rounds
    * are bit-reproducible across partitionings. Stops when
    * reassignments·100 ≤ n·stopReassignPct; the bounded-round guard
    * fails loudly. Returns the final (id, cell) assignment and the
    * (round, centroid dims moved at 4dp, reassignments) curve.
    *
    * Guard tuning: `stopReassignPct = 2` stops when under 2% of
    * points change cell in a round — the elbow where further Lloyd
    * rounds move centroids less than the 4dp mean rounding; tighten
    * toward 0 for a publishable clustering, loosen for a quick
    * partition. `maxRounds = 16` is the FAILURE bound: Lloyd's on
    * separated data reaches 2% in well under 10 rounds; hitting 16
    * means the threshold is too tight for the data's overlap (the
    * returned curve shows reassignments flat-lining) — fix the
    * threshold rather than raising the bound blindly.
    */
  /** IVF cell assignment against a FROZEN centroid table (q220's
    * parameterized form) — the vector side's daily delta-indexing
    * job: yesterday's index centroids are immutable, today's new
    * embeddings each get their nearest cell. `centroids` is
    * (label int, c array<double>) — index-sized, collected to ONE
    * row and broadcast, so assignment is a pure map stage over `df`
    * (zero shuffle of the vectors at any scale; the argmin is an
    * aggregate() fold per row, q42's assignment discipline). Ties
    * break by (round(d2, 6), label) — the same total order the
    * oracles replay. Returns (id, cell, d2) with d2 on the 6dp grid.
    */
  /** SemDeDup — semantic deduplication by cluster-then-prune (Abbas
    * et al. 2023, arXiv:2303.09540): assign every vector to its
    * nearest centroid (one map-only pass over a broadcast codebook,
    * [[ivfAssign]]), find near-duplicate pairs ONLY within each cell
    * (cosine ≥ `tau` on the 4-dp-rounded similarity — the cross-
    * engine grid every cosine query here uses), connect them into
    * components (the two-phase star cc engine), and keep one
    * exemplar per component (min id — the reproducibility policy).
    *
    * Scale shape — the algorithm's entire point at 100 TB: the
    * quadratic pair stage is blocked by the cell assignment, so its
    * cost is Σ|cell|² not |corpus|²; the centroid codebook is
    * driver/broadcast-scale model state (k × d doubles); the cc
    * fixpoint runs on the dup-pair graph (orders smaller than the
    * corpus); the final keep is one anti-join against the removed
    * set. Nothing is ever all-pairs.
    *
    * Returns (kept, census, rounds): `kept` = surviving input rows
    * (one exemplar per semantic component + every singleton),
    * `census` = one row per cell (cell, n_vecs, n_pairs, n_dup_vecs,
    * n_components, n_removed, kept_id_sum — the id-sum pins the
    * exact survivor set without shipping it), `rounds` = cc round
    * count. Both frames are eager local checkpoints with all
    * internal state (assignment persist, pair persist, cc labels)
    * released before returning — Ck.release them after their last
    * consumer.
    */
  /** The lazy (id, normalized vector, cell) frame behind
    * [[semDedup]] — normalized copy projected BEFORE the pair join
    * so each pair costs one dot product, joined back to the map-only
    * cell assignment (id-keyed equi-join; the pair stage dominates).
    * Exposed for PlanQualitySpec's shape pins.
    */
  private[graft] def semDedupAssigned(vectors: DataFrame,
      centroids: DataFrame, id: String, vec: String): DataFrame = {
    val e = vectors.select(col(id).as("__id"), {
      val v = col(vec).cast("array<double>")
      val n = sqrt(graft.functions.vec.arrayDot(v, v))
      transform(v, x => x / n).as("__e")
    })
    val asg = ivfAssign(vectors, centroids, id, vec)
      .select(col(id).as("__id"), col("cell"))
    e.join(asg, "__id")
  }

  /** The lazy cell-blocked pair frame behind [[semDedup]]: an
    * equi-join on the cell assignment (never a cross product), id
    * ordering for the canonical direction, cosine gated on the
    * shared 4-dp grid. Exposed for PlanQualitySpec's shape pins.
    */
  private[graft] def semDedupPairs(av: DataFrame, tau: Double): DataFrame = {
    val a = av.alias("a")
    val b = av.alias("b")
    a.join(b, col("a.cell") === col("b.cell") &&
        col("a.__id") < col("b.__id"))
      .filter(round(graft.functions.vec.arrayDot(
        col("a.__e"), col("b.__e")), 4) >= tau)
      .select(col("a.__id").as("__i"), col("b.__id").as("__j"),
        col("a.cell").as("cell"))
  }

  def semDedup(vectors: DataFrame, centroids: DataFrame, id: String,
      vec: String, tau: Double): (DataFrame, DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val av = semDedupAssigned(vectors, centroids, id, vec)
      .persist(MEMORY_AND_DISK)
    graft.Tables.touch(av)
    val pairs = semDedupPairs(av, tau).persist(MEMORY_AND_DISK)
    graft.Tables.touch(pairs)
    val (labels, rounds) = connectedComponents(pairs, "__i", "__j")
    val dup = labels.join(av.select(col("__id").as("id"), col("cell")), "id")
    val cellAll = av.groupBy(col("cell")).agg(
      count(lit(1)).as("n_vecs"), sum(col("__id")).as("__sid"))
    val cellPairs = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_pairs"))
    val cellDup = dup.groupBy(col("cell")).agg(
      count(lit(1)).as("n_dup_vecs"),
      countDistinct(col("component")).as("n_components"),
      count(when(col("id") =!= col("component"), 1)).as("n_removed"),
      sum(when(col("id") =!= col("component"), col("id"))
        .otherwise(0L)).as("__rsum"))
    val census = cellAll
      .join(cellPairs, Seq("cell"), "left")
      .join(cellDup, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_vecs"), lit(0L)).as("n_dup_vecs"),
        coalesce(col("n_components"), lit(0L)).as("n_components"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("__sid") - coalesce(col("__rsum"), lit(0L)))
          .as("kept_id_sum"))
      .orderBy(col("cell"))
      .localCheckpoint(true)
    // the removed set is O(corpus) by design (the cited paper prunes
    // up to ~50% of the corpus), so the anti-join must NOT force a
    // broadcast — the planner/AQE broadcasts it when the measured
    // size fits and shuffles on id when it doesn't (round-12 advice:
    // a forced broadcast OOMs the driver exactly at the scale the op
    // claims to serve)
    val removed = labels.filter(col("id") =!= col("component"))
      .select(col("id").as(id))
    val kept = vectors.join(removed, Seq(id), "left_anti")
      .localCheckpoint(true)
    graft.Ck.release(labels)
    pairs.unpersist(blocking = false)
    av.unpersist(blocking = false)
    (kept, census, rounds)
  }

  /** Corpus-scaled sign-LSH plane count for [[marginMine]] (round-16,
    * verdict item 4 — the identical problem q222's √N codebook solved
    * for SemDeDup in r12): a FIXED plane count is corpus-size-blind,
    * so per-bucket population — and with it the bucket join's
    * per-bucket quadratic work — grows linearly with the corpus.
    * Returns the smallest p in [[[MarginBasePlanes]],
    * [[MarginMaxPlanes]]] with n ≤ [[MarginTargetBucket]] · 2^p, so
    * expected bucket population stays ≤ MarginTargetBucket and total
    * candidate pairs stay ~n · MarginTargetBucket — linear in the
    * corpus (measured: the SCALE_PROBE margin_mine leg at m=1/10/100).
    * Deliberately INTEGER-ONLY: ceil(log2(n/256.0)) computed via
    * doubles disagrees between engines at exact powers of two (Java's
    * log(8)/log(2) = 3.0000000000000004 vs DuckDB log2(8) = 3.0), and
    * the oracle must resolve the identical value — its SQL twin is a
    * CASE ladder over the same shifted-integer comparisons
    * (queries/Vectors.sqlMarginPlanesLadder).
    */
  val MarginTargetBucket = 256L
  val MarginBasePlanes = 4
  val MarginMaxPlanes = 12
  def autoPlanes(n: Long): Int = {
    var p = MarginBasePlanes
    while (p < MarginMaxPlanes && n > (MarginTargetBucket << p)) p += 1
    p
  }

  /** Margin-based (CSLS / ratio-margin) MUTUAL-NN pair mining — the
    * parameterized core behind q224_margin_mining (the q199/q216
    * delegation pattern). The bitext-mining operator of Artetxe &
    * Schwenk 2019 / CCMatrix: candidate cosines between two
    * embedding sides are normalized by the mean of BOTH endpoints'
    * k-NN cosines — margin(x,y) = cos(x,y) / ((μk(x)+μk(y))/2) —
    * and mutual-best pairs above the threshold are kept (raw cosine
    * over-selects hub vectors; the margin criterion is what aligned-
    * pair miners actually ship). Returns (src_id, dst_id, c_e4,
    * margin_e3), unordered.
    *
    * Scale shape: candidates are blocked on a `planes`-bit sign-LSH
    * bucket (the q28 md5 hyperplanes) so the pair stage is a bucket
    * equi-join, never a cross product; k-NN means are bucket-bounded
    * top-k windows; mutual-best selection is two id-partitioned rank
    * windows. The bucket count scales with the corpus BY DEFAULT
    * (round-16, verdict item 4 — the q222 √N-codebook discipline
    * transplanted): `planes = 0` resolves to [[autoPlanes]] of the
    * larger side's row count, so per-bucket population stays near
    * [[MarginTargetBucket]] and candidate-pair count stays ~linear
    * in the corpus instead of degrading toward all-pairs at a fixed
    * 16 buckets. Beyond the [[MarginMaxPlanes]] cap (≈1M rows per
    * side), pass explicit `planes`, multi-probe (the q118 path), or
    * pre-assign IVF cells and feed per-cell sides (the q42 path).
    * Integer end-to-end after the 4-dp cosine grid snap:
    * margin_e3 = (2000·c·nA·nB) div (sumA·nB + sumB·nA) is exact
    * across engines, so an oracle gate covers the ranking.
    */
  /** The sign-LSH-blocked candidate stage of [[marginMine]], exposed
    * for the SCALE_PROBE margin_mine leg: (a_id, b_id, c_e4) for
    * every same-bucket cross-side pair with positive snapped cosine.
    * Counting this frame at m=1/10/100 is the measured evidence that
    * [[autoPlanes]] keeps candidate growth ~linear in the corpus.
    */
  def marginCandidates(sideA: DataFrame, sideB: DataFrame, id: String,
      vec: String, planes: Int): DataFrame = {
    def dot(a: Column, b: Column): Column =
      graft.functions.vec.arrayDot(a, b)
    def normalized(a: Column): Column = {
      val n = sqrt(dot(a, a))
      transform(a, x => x / n)
    }
    def planeArr(p: Int): Column =
      array((0 until 64).map(d =>
        lit(graft.queries.Vectors.planeVal(p, d))): _*)
    def bucketOf(v: Column): Column =
      (0 until planes).map { p =>
        when(dot(v, planeArr(p)) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    def side(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(id).as(idAs),
          normalized(col(vec).cast("array<double>")).as(vecAs))
        .withColumn("bucket", bucketOf(col(vecAs)))
    side(sideA, "a_id", "ae").join(side(sideB, "b_id", "be"), Seq("bucket"))
      .withColumn("c_e4", round(dot(col("ae"), col("be")) * 10000, 0).cast("long"))
      .filter(col("c_e4") > 0)
      .select(col("a_id"), col("b_id"), col("c_e4"))
  }

  def marginMine(sideA: DataFrame, sideB: DataFrame, id: String,
      vec: String, k: Int = 4, tauE3: Long = 1200L, planes: Int = 0)
    : DataFrame = {
    // auto mode counts the RAW sides (two metadata-light jobs; the
    // oracle mirrors with COUNT(*) subqueries) — integer ladder, no
    // float log2, so both engines resolve the identical plane count
    val pl =
      if (planes > 0) planes
      else autoPlanes(math.max(sideA.count(), sideB.count()))
    import org.apache.spark.sql.expressions.Window
    val cand = marginCandidates(sideA, sideB, id, vec, pl)
    def knn(idCol: String, peerCol: String, sumName: String, nName: String) = {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("c_e4").desc, col(peerCol))
      cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .groupBy(col(idCol))
        .agg(sum(col("c_e4")).as(sumName), count(lit(1)).as(nName))
    }
    val m = cand
      .join(knn("a_id", "b_id", "sum_a", "n_a"), "a_id")
      .join(knn("b_id", "a_id", "sum_b", "n_b"), "b_id")
      .withColumn("margin_e3",
        expr("(2000 * c_e4 * n_a * n_b) div (sum_a * n_b + sum_b * n_a)"))
      .filter(col("margin_e3") >= tauE3)
      .select(col("a_id"), col("b_id"), col("c_e4"), col("margin_e3"))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_e3").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("margin_e3").desc, col("a_id"))
    m.withColumn("ra", row_number().over(wa)).filter(col("ra") === 1)
      .join(m.withColumn("rb", row_number().over(wb)).filter(col("rb") === 1)
        .select(col("a_id"), col("b_id")), Seq("a_id", "b_id"))
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
        col("c_e4"), col("margin_e3"))
  }

  def ivfAssign(df: DataFrame, centroids: DataFrame, id: String,
      vec: String): DataFrame = {
    val cellsR = centroids.agg(
      array_sort(collect_list(struct(col("label"), col("c")))).as("cells"))
    df.select(col(id), col(vec).cast("array<double>").as("__e"))
      .crossJoin(broadcast(cellsR))
      .select(col(id), aggregate(
          col("cells"),
          struct(lit(Double.MaxValue).as("d2"),
            lit(null).cast("int").as("lbl")),
          (acc, cell) => {
            val diff = zip_with(col("__e"), cell.getField("c"),
              (x, y) => x - y)
            val d2 = round(graft.functions.vec.arrayDot(diff, diff), 6)
            val lbl = cell.getField("label")
            val better = acc.getField("lbl").isNull
              .or(d2 < acc.getField("d2"))
              .or(d2 === acc.getField("d2") && lbl < acc.getField("lbl"))
            when(better, struct(d2.as("d2"), lbl.as("lbl"))).otherwise(acc)
          }).as("__a"))
      .select(col(id), col("__a").getField("lbl").as("cell"),
        col("__a").getField("d2").as("d2"))
  }

  def kmeansToConvergence(points: DataFrame, id: String, vec: Column,
      initCell: Column, stopReassignPct: Long = 2L, maxRounds: Int = 16)
    : (DataFrame, Seq[(Long, Long, Long)]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = points.select(col(id).as("__id"),
      initCell.cast("int").as("__c0"), vec.cast("array<double>").as("__e"))
      .persist(MEMORY_AND_DISK)
    val n = base.count() // eager persist + the threshold denominator
    def mean4(x: Column): Column =
      round(sum(x.cast("decimal(20,10)")).cast("double") / count(lit(1)), 4)
    def centroidsOf(assigned: DataFrame, by: Column): Map[Int, Seq[Double]] =
      assigned.select(by.cast("int").as("cell"),
          posexplode(col("__e")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d")).agg(mean4(col("x")).as("m"))
        .collect().groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
    var cells: Map[Int, Seq[Double]] = centroidsOf(base, col("__c0"))
    // argmin fold against a LITERAL centroid array (driver-held
    // model state): assignment is map-only at any scale
    def nearest(cellsNow: Map[Int, Seq[Double]]): Column = {
      val lit0 = typedLit(cellsNow.toSeq.sortBy(_._1))
      aggregate(lit0,
        struct(lit(Double.MaxValue).as("d2"), lit(null).cast("int").as("lbl")),
        (acc, cell) => {
          val diff = zip_with(col("__e"), cell.getField("_2"), (x, y) => x - y)
          val d2 = round(graft.functions.vec.arrayDot(diff, diff), 6)
          val lbl = cell.getField("_1")
          val better = acc.getField("lbl").isNull
            .or(d2 < acc.getField("d2"))
            .or(d2 === acc.getField("d2") && lbl < acc.getField("lbl"))
          when(better, struct(d2.as("d2"), lbl.as("lbl"))).otherwise(acc)
        }).getField("lbl")
    }
    // per round: the driver-held centroids move on one collect, and
    // the (id, cell) assignment is checkpointed joined to the previous
    // one, so the reassignment count rides that same job
    val moves = scala.collection.mutable.ArrayBuffer.empty[Long]
    var assigned: DataFrame = null
    try {
      val (last, reassigned) = graft.Loop.fixpoint("kmeans",
          base.select(col("__id"), col("__c0").as("cell")),
          count_if(col("cell") =!= col("__old")), maxRounds,
          done = (_, reass) => reass * 100L <= n * stopReassignPct) { prev =>
        // the previous round's assignment was its checkpoint's last reader
        if (assigned != null) assigned.unpersist(blocking = false)
        assigned = base
          .select(col("__id"), col("__e"), nearest(cells).as("cell"))
          .persist(MEMORY_AND_DISK)
        val newCells = centroidsOf(assigned, col("cell"))
        val filled = cells.map { case (c, old) => c -> newCells.getOrElse(c, old) }
        moves += cells.toSeq.map { case (c, old) =>
          old.zip(filled(c)).count { case (a, b) => a != b }.toLong
        }.sum
        cells = filled
        assigned.select(col("__id"), col("cell"))
          .join(prev.withColumnRenamed("cell", "__old"), "__id")
      }
      (last.select(col("__id").as(id), col("cell")),
        reassigned.zip(moves).map { case ((r, re), mv) => (r, mv, re) })
    } finally {
      if (assigned != null) assigned.unpersist(blocking = false)
      base.unpersist(blocking = false)
    }
  }

  /** Write-side 2-D clustering (q166's layout op): quantize two
    * numeric dimensions to 16 bits against the frame's own extremes
    * (one broadcast scalar row — the q69 idiom), interleave with
    * [[graft.functions.ZOrder.morton16]] (built-in shifts/masks,
    * whole-stage codegen), then range-repartition and sort within
    * partitions on the Z key. Written to parquet, file-level min/max
    * stats then prune range predicates on EITHER dimension (q166
    * measures the effect: a 2-D rectangle touches ~area·fragmentation
    * buckets instead of a full stripe of a one-column sort). The key
    * survives as `z_key` so a writer can bucket or verify on it; a
    * constant dimension quantizes to 0 instead of dividing by zero.
    * Cost: one tiny agg + ONE range exchange — the same price as any
    * global sort-on-write.
    */
  def clusterByZOrder(df: DataFrame, x: String, y: String,
      numPartitions: Int): DataFrame = {
    val ext = df.agg(min(col(x).cast("long")).as("__minx"),
      max(col(x).cast("long")).as("__maxx"),
      min(col(y).cast("long")).as("__miny"),
      max(col(y).cast("long")).as("__maxy"))
    df.crossJoin(broadcast(ext))
      .withColumn("__qx", when(col("__maxx") === col("__minx"), lit(0L))
        .otherwise(expr(s"((CAST(`$x` AS BIGINT) - __minx) * 65535)" +
          " div (__maxx - __minx)")))
      .withColumn("__qy", when(col("__maxy") === col("__miny"), lit(0L))
        .otherwise(expr(s"((CAST(`$y` AS BIGINT) - __miny) * 65535)" +
          " div (__maxy - __miny)")))
      .withColumn("z_key",
        graft.functions.ZOrder.morton16(col("__qx"), col("__qy")))
      .drop("__minx", "__maxx", "__miny", "__maxy", "__qx", "__qy")
      .repartitionByRange(numPartitions, col("z_key"))
      .sortWithinPartitions(col("z_key"))
  }

  /** Bigram-LM surprisal scoring (q167's parameterized form — the
    * CCNet/KenLM perplexity-filter shape with the exact-int64
    * surrogate): trains a bigram model on `df` itself and appends,
    * per row, `n_bigrams` and `sum_sp_e4` — the sum over the text's
    * token transitions of the Laplace-smoothed inverse conditional
    * frequency ((c1 + V)·10000) div (c12 + 1), monotone in
    * -log p̂(w2|w1). Gate on sum_sp_e4 > n_bigrams·threshold_e4 —
    * pure int64, no float log, identical on every engine. Rows whose
    * text has fewer than two tokens get n_bigrams = 0. Plan: bigrams
    * explode array-side (no window), counts are map-side combined
    * and BROADCAST into one scoring pass; past broadcast scale the
    * same joins shuffle on the bigram key unchanged.
    */
  def bigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    val bg = df.select(col(id).as("__id"),
        split(col(text), " ").as("__ws"))
      .select(col("__id"), explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
      .select(col("__id"), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val c12 = bg.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c12"))
    val c1 = c12.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    val v = c12.agg(countDistinct(col("__w2")).as("__v"))
    val perRow = bg
      .join(broadcast(c12), Seq("__w1", "__w2"))
      .join(broadcast(c1), Seq("__w1"))
      .crossJoin(broadcast(v))
      .withColumn("__sp", expr("((__c1 + __v) * 10000) div (__c12 + 1)"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__sp")).as("sum_sp_e4"))
    df.join(perRow.withColumnRenamed("__id", id), Seq(id), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("sum_sp_e4", coalesce(col("sum_sp_e4"), lit(0L)))
  }

  /** Rank-difference quality classifier (q168's parameterized form —
    * the fastText/DCLM filter shape with the exact-int64 surrogate):
    * trains per-class token frequency-rank tables on the rows
    * `isPositive` selects vs the rest, then appends per row the
    * accumulated evidence `score` (sum of rank_pos - rank_neg; by
    * Zipf, rank is monotone in -log p̂, so typical-of-positive tokens
    * pull negative exactly as their NB log-odds would), `n_toks`,
    * and the keep decision `pred_positive` (mean rank-diff < -0.1,
    * i.e. 10·score < -n_toks — all-integer, so the negative-value
    * floor-vs-truncate division hazard never arises). Unseen-in-
    * class tokens rank |V_class|+1 (the +1-smoothing analog). Plan:
    * two vocab-sized rank tables (single-partition window over |V|
    * rows, never the corpus), both BROADCAST into one scoring pass;
    * past broadcast scale the scoring join shuffles on the token.
    */
  def rankClassifierScore(df: DataFrame, id: String, text: String,
      isPositive: Column): DataFrame = {
    val toks = df.select(col(id).as("__id"), isPositive.as("__p"),
        explode(split(col(text), " ")).as("__w"))
    def rankTable(flt: Column): DataFrame = toks.filter(flt)
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .withColumn("__r", row_number()
        .over(Window.orderBy(col("__c").desc, col("__w"))).cast("long"))
      .select(col("__w"), col("__r"))
    val pos = rankTable(col("__p"))
    val neg = rankTable(!col("__p"))
    val vp = pos.agg(count(lit(1)).as("__vp"))
    val vn = neg.agg(count(lit(1)).as("__vn"))
    val perRow = toks
      .join(broadcast(pos.withColumnRenamed("__r", "__rp")), Seq("__w"), "left")
      .join(broadcast(neg.withColumnRenamed("__r", "__rn")), Seq("__w"), "left")
      .crossJoin(broadcast(vp)).crossJoin(broadcast(vn))
      .withColumn("__d", coalesce(col("__rp"), col("__vp") + 1L)
        - coalesce(col("__rn"), col("__vn") + 1L))
      .groupBy(col("__id"))
      .agg(sum(col("__d")).as("score"), count(lit(1)).as("n_toks"))
    df.join(perRow.withColumnRenamed("__id", id), id)
      .withColumn("pred_positive", col("score") * 10L < -col("n_toks"))
  }

  /** WordPiece-style tokenization (q169's parameterized form): train
    * a subword vocabulary on `df` itself — the top `nBigrams` char
    * bigrams and `nTrigrams` char trigrams by corpus-weighted
    * frequency — then append `tokens`, the greedy longest-match
    * segmentation of each text's words, via the codegen'd
    * [[graft.functions.WordPieceEncode]] kernel (vocabulary ships as
    * a reference object, zero joins on the apply path; single code
    * points always fall back, so segmentation is total). The train
    * pass aggregates over the DISTINCT-word table (|V|, not
    * |corpus|); two driver-sized collects hold the trained artifact,
    * exactly like a tokenizer.json load.
    */
  def wordpieceTokens(df: DataFrame, text: String,
      nBigrams: Int = 15, nTrigrams: Int = 10): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wc = df.select(explode(split(col(text), " ")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .persist(MEMORY_AND_DISK)
    def top(len: Int, k: Int): Seq[String] = wc
      .filter(length(col("__w")) >= len)
      .select(col("__c"),
        explode(transform(sequence(lit(1), length(col("__w")) - (len - 1)),
          i => col("__w").substr(i, lit(len)))).as("__piece"))
      .groupBy(col("__piece")).agg(sum(col("__c")).as("__n"))
      .orderBy(col("__n").desc, col("__piece")).limit(k)
      .collect().toSeq.map(_.getString(0))
    val vocab = top(2, nBigrams) ++ top(3, nTrigrams)
    wc.unpersist(blocking = false)
    df.withColumn("tokens", flatten(transform(split(col(text), " "),
      w => graft.functions.tokenizer.wordpieceEncode(w, vocab))))
  }

  /** Integer PageRank to a movement-threshold fixpoint (q175's
    * parameterized form; damping 0.85, ranks scaled to 1e9 so every
    * round is exact int64 `div` and bit-reproducible across
    * partitionings and engines). A thin adapter over Curation's one
    * PageRank driver (`Curation.pagerankOn`, the q175/q178/q186
    * core): it renames the endpoints, derives the node set and the
    * teleport column, and passes `Curation.prRound`. So it runs the
    * r16 layout: the edge cache is partitioned on dst, the rank
    * checkpoints keep an id layout, and the rank vector is broadcast
    * into the contribution join only while it fits the session's
    * broadcast threshold. Dangling nodes
    * (no out-edges) contribute nothing and settle at the floor
    * 0.15e9; nodes that only ever appear as destinations still get
    * ranks (the node set is the distinct edge ENDPOINTS). Self-loops
    * and duplicate edges are dropped.
    *
    * `init` warm-starts the loop from a previous (id, pr) fixpoint —
    * q178's incremental shape: after a small edge churn, the
    * contraction from the old fixpoint re-converges in strictly
    * fewer rounds than the uniform cold start. Callers own `init`'s
    * correctness envelope: ids must cover the node set (missing ids
    * would re-enter at the dangling floor).
    *
    * Guard tuning: `epsPerNode = 100` stops when the summed movement
    * is under 100 rank units (1e-7 of a unit rank) per node —
    * tighter than the 4dp anyone reads ranks at. `maxRounds = 30` is
    * the FAILURE bound: damped PageRank contracts geometrically
    * (factor 0.85), so movement falls ~7x per decade of rounds;
    * hitting 30 means the input mutated mid-loop or eps is set below
    * the integer floor — inspect the returned curve, don't raise
    * the bound blindly. Returns the final (id, pr) vector, the
    * (round, movement) curve, and the round count.
    *
    * `personalizeTo` (q186's parameterized form): a seed predicate —
    * when set, the 15% teleport mass lands only on the seeds
    * ((0.15e9 * n) DIV |S| each), so rank measures proximity to the
    * seed set (recommendation / trust propagation); the default init
    * concentrates the full mass uniformly on the seeds. Composes
    * with `init` for warm-started PPR.
    */
  def pagerank(edges: DataFrame, src: String, dst: String,
      epsPerNode: Long = 100L, maxRounds: Int = 30,
      init: Option[DataFrame] = None,
      probe: (Int, DataFrame) => Unit = (_, _) => (),
      personalizeTo: Option[Column => Column] = None)
    : (DataFrame, Seq[(Long, Long)], Int) = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // the node count rides the node set's checkpoint job
    val (nodes, nNodes) = graft.Loop.checkpoint(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct(),
      count(lit(1)))
    // personalizeTo (q186's shape): the teleport mass and the default
    // init land only on the seeds. The seed set is counted once.
    val (tp, defaultPr) = personalizeTo match {
      case None => (lit(150000000L), lit(1000000000L))
      case Some(isSeed) =>
        val ns = nodes.filter(isSeed(col("id"))).count()
        require(ns > 0, "personalized pagerank needs a non-empty seed set")
        def onSeeds(v: Long) = when(isSeed(col("id")), lit(v)).otherwise(lit(0L))
        (onSeeds(150000000L * nNodes / ns), onSeeds(1000000000L * nNodes / ns))
    }
    val (pr, curve) =
      try graft.queries.Curation.pagerankOn("pr", e,
          init.map(_.select(col("id"), col("pr")))
            .getOrElse(nodes.select(col("id"), defaultPr.as("pr"))),
          nNodes * epsPerNode, maxRounds, probe,
          graft.queries.Curation.prRound(_, _, tp))
      finally graft.Ck.release(nodes) // the init checkpoint was its last reader
    (pr, curve, curve.length)
  }

  /** Offline CUSUM changepoint locator (q194's parameterized form):
    * per `key`, the max-|CUSUM| argmax over the series ordered by
    * `orderCols` (which must totally order rows within a key — ties
    * make the argmax engine-dependent), with segment means on both
    * sides of the cut. `orderId` names the column reported as
    * `cp_event_id`; `valueCents` must already be integer-scaled
    * (exact arithmetic is the caller's contract, as for ewma).
    * Output: (key, n_events, cp_idx, cp_event_id, cusum_c4,
    * mean_before_c4, mean_after_c4). Scale: ONE exchange on `key`
    * serves every window; int64-safe while n-per-key² · max|cents|
    * < 2⁶³. For the LIVE version of the same question, see
    * streaming.CusumMonitor.
    */
  def cusumChangepoint(df: DataFrame, key: String, orderCols: Seq[Column],
      orderId: Column, valueCents: Column): DataFrame = {
    require(orderCols.nonEmpty, "cusumChangepoint needs order columns")
    graft.queries.Temporal.cusumReport(
      df.select(Seq(col(key), orderId.as("__oid"),
        valueCents.cast("long").as("cents")) ++ orderCols: _*),
      key, orderCols)
  }

  /** Vocabulary-growth (Heaps-law) curve (q197's parameterized
    * form): per `group`, cumulative token count, cumulative
    * distinct-type count, and type-token ratio at each decile of the
    * stream ordered by `orderCol` — the corpus-saturation signal
    * that demotes self-repeating sources before pairwise dedup can
    * prove it. Tokenization is the engine-standard whitespace split.
    * Output: (group, decile, n_docs, cum_tokens, cum_vocab, ttr_4).
    * Scale: one exchange on `group` carries every window; the
    * first-occurrence table is one (group, type) partial-agg min.
    */
  def vocabGrowth(df: DataFrame, group: String, orderCol: Column,
      text: Column): DataFrame = {
    val wPos = Window.partitionBy(col(group)).orderBy(col("__ord"))
    val wCum = Window.partitionBy(col(group)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = df
      .select(col(group), orderCol.as("__ord"), split(text, " ").as("__ws"))
      .withColumn("__pos", row_number().over(wPos).cast("long"))
      .withColumn("__tok", size(col("__ws")).cast("long"))
    val newTypes = docs
      .select(col(group), col("__pos"), explode(col("__ws")).as("__w"))
      .groupBy(col(group), col("__w")).agg(min(col("__pos")).as("__fpos"))
      .groupBy(col(group), col("__fpos")).agg(count(lit(1)).as("__nt"))
      .withColumnRenamed("__fpos", "__pos")
    docs.select(col(group), col("__pos"), col("__tok"))
      .join(newTypes, Seq(group, "__pos"), "left")
      .withColumn("cum_tokens", sum(col("__tok")).over(wCum))
      .withColumn("cum_vocab", sum(coalesce(col("__nt"), lit(0L))).over(wCum))
      .withColumn("__d", count(lit(1)).over(Window.partitionBy(col(group))))
      .withColumn("decile", explode(sequence(lit(1L), lit(10L))))
      .filter(col("__pos") === expr("(decile * __d) div 10"))
      .select(col(group), col("decile"), col("__pos").as("n_docs"),
        col("cum_tokens"), col("cum_vocab"),
        // ratio4's half-up 4dp (positive operands: div == ldiv here)
        (expr("(20000 * cum_vocab + cum_tokens) div (2 * cum_tokens)")
          / 10000.0).as("ttr_4"))
      .orderBy(group, "decile")
  }

  /** Mergeable hash-sample quantile sketch with its accuracy audit
    * (q200's parameterized form): per `key`, p50/p90/p99 of
    * `valueCents` estimated from the deterministic md5 bottom-sample
    * (rate 1/`denom`) next to the exact rank-cut and the absolute
    * error. `orderId` must totally order rows in a key (ties would
    * make the rank-cut engine-dependent) and is also the sampling
    * identity — membership is a pure function of it, so shards merge
    * by union and redeliveries are idempotent. Output: (key,
    * n_events, n_sample, pct, est_cents, exact_cents, err_cents).
    */
  def quantileSketch(df: DataFrame, key: String, orderId: Column,
      valueCents: Column, denom: Int = 10): DataFrame = {
    require(denom >= 2, s"quantileSketch needs denom >= 2, got $denom")
    val base = df.select(col(key), orderId.as("__oid"),
      valueCents.cast("long").as("__c"))
    def cuts(d: DataFrame, nName: String, sfx: String): DataFrame = {
      val w = Window.partitionBy(col(key)).orderBy(col("__c"), col("__oid"))
      d.withColumn("__r", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(key))))
        .groupBy(col(key))
        .agg(max(col("__n")).as(nName),
          min(when(col("__r") * 2 >= col("__n"), col("__c"))).as(s"p50_$sfx"),
          min(when(col("__r") * 10 >= col("__n") * 9, col("__c"))).as(s"p90_$sfx"),
          min(when(col("__r") * 100 >= col("__n") * 99, col("__c"))).as(s"p99_$sfx"))
    }
    val full = cuts(base, "n_events", "exact")
    val samp = cuts(base.filter(
      Hashing.hash28(col("__oid").cast("string")) < (1L << 28) / denom),
      "n_sample", "est")
    full.join(samp, Seq(key), "left")
      .select(col(key), col("n_events"), col("n_sample"),
        expr("""stack(3, 50L, p50_est, p50_exact,
                        90L, p90_est, p90_exact,
                        99L, p99_est, p99_exact)
                AS (pct, est_cents, exact_cents)"""))
      .withColumn("err_cents", abs(col("est_cents") - col("exact_cents")))
      .orderBy(key, "pct")
  }

  /** EXACT similarity self-join (q205's parameterized form): every
    * pair with word-3-gram-shingle Jaccard >= tauE4/10^4 — LOSSLESS
    * by the PPJoin prefix lemma (rare-first global shingle order,
    * prefix-only candidate explode), unlike nearDupCandidates'
    * banded LSH which misses threshold-grazing pairs with
    * probability 1-(1-s^3)^4 (audited in q206). Use this when the
    * pipeline contract is "EVERY pair", and the banded form when
    * approximate recall at lower cost is acceptable. Returns
    * (i, j, n_inter, n_union, jac_e4) under the caller's id column
    * names. Scale: candidate fan-out is bounded by PREFIX shingle
    * frequency (hot shingles land in suffixes); no all-pairs stage.
    */
  def prefixJoinPairs(df: DataFrame, id: String, text: Column,
      tauE4: Long = 5000L): DataFrame = {
    require(tauE4 > 0L && tauE4 <= 10000L,
      s"prefixJoinPairs needs 0 < tauE4 <= 10000, got $tauE4")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d = df
      .select(col(id).as("doc_id"), Hashing.shingles(text, 3).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .persist(MEMORY_AND_DISK)
    val out = graft.queries.Dedup.ssjPairs(d, tauE4)
    val ck = out.withColumnsRenamed(Map("i" -> s"${id}_a", "j" -> s"${id}_b"))
      .localCheckpoint(true)
    d.unpersist(blocking = false)
    ck
  }

  /** Asymmetric containment join (q211's parameterized form): every
    * DIRECTED pair where the fraction of the first document's 3-word
    * shingles found in the second reaches tauE4/10^4 — the
    * quote/subset detector Jaccard cannot express (a short document
    * embedded in a long one has low Jaccard but containment ~1).
    * Lossless by the asymmetric prefix lemma: the probe side
    * explodes only rare-first prefixes, the index side all shingles.
    * Documents with no shingles (< 3 words) are outside the domain —
    * containment of an empty set is vacuous. Returns (<id>_a, <id>_b,
    * n_inter, sz_a, sz_b, cont_e4) where <id>_a is the contained
    * side. Scale: probe fan-out prefix-bounded; no all-pairs stage.
    */
  def containmentJoinPairs(df: DataFrame, id: String, text: Column,
      tauE4: Long = 8000L): DataFrame = {
    require(tauE4 > 0L && tauE4 <= 10000L,
      s"containmentJoinPairs needs 0 < tauE4 <= 10000, got $tauE4")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d = df
      .select(col(id).as("doc_id"), Hashing.shingles(text, 3).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .filter(col("sz") > 0L)
      .persist(MEMORY_AND_DISK)
    val out = graft.queries.Dedup.containmentPairs(d, tauE4)
    val ck = out.withColumnsRenamed(Map(
        "i" -> s"${id}_a", "j" -> s"${id}_b",
        "sz_i" -> "sz_a", "sz_j" -> "sz_b"))
      .localCheckpoint(true)
    d.unpersist(blocking = false)
    ck
  }

  /** HITS hubs & authorities (q196's parameterized form) over an
    * arbitrary directed edge list (normalized: distinct, self-loops
    * dropped): 4 integer power iterations of a = Eᵀh, h = Ea with
    * max-renormalization to 10000 after every half-step — pure
    * int64, reproducible across engines (see q196). Returns the full
    * (id, auth, hub) table. Scale: the score vectors are node-sized
    * broadcasts onto the edge list (co-partitioned joins past a
    * broadcast); per-round frames checkpoint eagerly and release.
    */
  def hits(edges: DataFrame, src: String, dst: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val canon = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val (a, h) = graft.queries.Curation.hitsScores(canon)
    val out = a.select(col("id"), col("score").as("auth"))
      .join(h.select(col("id"), col("score").as("hub")), "id")
      .localCheckpoint(true)
    graft.Ck.release(a)
    graft.Ck.release(h)
    canon.unpersist(blocking = false)
    out
  }

  /** Strongly connected components (q199's parameterized form): the
    * trim + forward-max-coloring + backward-collect loop over an
    * arbitrary directed edge list (duplicates and self-loops are
    * normalized away; a self-loop-only node is outside the node set,
    * the kcore convention). Returns the (id, scc) table with scc =
    * the component's minimum member id — q161's canonical-label
    * convention, so undirected CC and SCC labels compare directly.
    * Every inner loop is data-driven with a loud bounded guard;
    * per-round frames are localCheckpoint(eager)-ed and released
    * (reliable checkpoint() on a cluster). All joins are node-keyed —
    * nothing is quadratic in edges.
    */
  def scc(edges: DataFrame, src: String, dst: String): DataFrame = {
    val canon = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val (labels, _) = graft.queries.Mining.sccAssign(canon)
    labels // (id, scc) — connectedComponents' (id, component) shape
  }

  /** Link-prediction scores (q208's parameterized form): the top-k
    * NON-adjacent pairs by neighborhood Jaccard then common-neighbor
    * count over an arbitrary edge list (canonicalized undirected:
    * a<b, distinct, self-loops dropped) — Liben-Nowell & Kleinberg's
    * two strongest unweighted predictors, e4 integer fixed point,
    * fully deterministic tie order. Returns (u, v, cn, deg_u, deg_v,
    * jac_e4). Scale: candidates ride the wedge join (Σ deg² — q115's
    * envelope, never all-pairs), and `maxCenterDeg` bounds every
    * center's fan-out: hub centers above the cap leave wedge
    * enumeration via a tiny broadcast anti-join, so a power-law
    * graph's worst center contributes at most cap² candidates. With
    * the cap above the graph's max degree the result is exact;
    * below it, hub-mediated pairs are dropped — the Adamic-Adar
    * rationale (a huge-degree common neighbor carries ~no signal).
    * Jaccard denominators always use TRUE degrees.
    */
  def linkPredict(edges: DataFrame, src: String, dst: String,
      k: Int = 20, maxCenterDeg: Long = 4096L): DataFrame = {
    require(k > 0, s"linkPredict needs k > 0, got $k")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    graft.Tables.touch(und)
    // linkPredictPairs materializes internally (k-row checkpoint)
    val ck = graft.queries.Mining.linkPredictPairs(und, k, maxCenterDeg)
    und.unpersist(blocking = false)
    ck
  }

  /** 2-sweep diameter estimate (q216's parameterized form): largest
    * component by size (tie: min label), BFS from its canonical
    * min-id node, BFS again from the farthest node found
    * (deterministic tie: min id) — ecc of the second sweep is the
    * diameter lower bound, exact on trees (Magnien-Latapy-Habib
    * 2009). Returns one row (component, n_nodes, seed_node,
    * ecc_seed, far_node, diameter_lb). Scale: two frontier-
    * proportional BFS runs + the cc fixpoint; three O(1) driver
    * scalars. Both sweeps run over the WINNING COMPONENT's edges
    * only — the cc labels are already in hand, and one semi-join
    * stops every BFS hop from re-scanning the other components'
    * edges (on a many-component graph the per-hop saving is the
    * whole non-giant remainder).
    *
    * `maxHops = 60` is the supported-ECCENTRICITY bound, kept IN
    * SYNC with the q216 oracle's 60-hop recursion cap
    * (`Mining.q216Sql`) — with diverged bounds a graph of
    * eccentricity in between would fail on one side and succeed on
    * the other. The engine BFS proves exhaustion with one EMPTY
    * round, so each sweep gets a `maxHops + 1` hop budget: ecc <=
    * maxHops sweeps exactly (both sides), ecc = maxHops + 1 fails
    * LOUDLY here while the oracle's truncated recursion would
    * silently under-report — loud beats silent on the divergence
    * side. A high-diameter graph (a long path — the very shape the
    * 2-sweep is exact on) needs the bound raised past its
    * eccentricity.
    */
  def diameterSweep(edges: DataFrame, src: String, dst: String,
      maxHops: Int = 60): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = edges.sparkSession
    import s.implicits._
    val und = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    graft.Tables.touch(und)
    val (cc, _) = connectedComponents(und, "a", "b")
    val topRows = cc.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("component")).limit(1).collect()
    // loud empty-graph guard: an edge frame of only self-loops (or
    // nothing) has no component to sweep — fail with the cause, not
    // a NoSuchElementException out of head(). Release BOTH held
    // frames on this path (cc's checkpoint as well as und's persist)
    if (topRows.isEmpty) { graft.Ck.release(cc); und.unpersist(blocking = false) }
    require(topRows.nonEmpty,
      "diameterSweep: empty graph (no non-self-loop edges) — nothing to sweep")
    val top = topRows.head
    val comp = top.getLong(0) // component label = min member id
    val nComp = top.getLong(1)
    // restrict to the winning component BEFORE the sweeps: both
    // endpoints of an undirected edge share a component, so one
    // endpoint semi-join restricts the edge set exactly
    val big = und
      .join(cc.filter(col("component") === comp).select(col("id").as("a")),
        Seq("a"), "left_semi")
      .persist(MEMORY_AND_DISK)
    graft.Tables.touch(big)
    graft.Ck.release(cc)
    und.unpersist(blocking = false) // the sweeps only read `big`
    def farthest(seed: Long, sweep: String): (Long, Long) = {
      // +1: the exhaustion proof is an empty round PAST the last
      // distance, so supporting ecc <= maxHops needs maxHops+1 hops
      val (dist, hops) = bfsDistances(big, "a", "b", c => c === lit(seed),
        maxHops = maxHops + 1)
      graft.LoopStats.recordLoop(sweep, hops.toLong)
      val far = dist.filter(col("dist") >= 0L)
        .orderBy(col("dist").desc, col("id")).limit(1).head()
      graft.Ck.release(dist)
      (far.getLong(0), far.getLong(1))
    }
    val (u, eccSeed) = farthest(comp, "bfs_sweep1")
    val (_, diameterLb) = farthest(u, "bfs_sweep2")
    big.unpersist(blocking = false)
    Seq((comp, nComp, comp, eccSeed, u, diameterLb))
      .toDF("component", "n_nodes", "seed_node", "ecc_seed",
        "far_node", "diameter_lb")
  }

  /** Stationary distribution of an empirical Markov chain (q215's
    * parameterized form): per `key`, consecutive `state` transitions
    * in `orderCols` order build the e6 row-stochastic matrix
    * (terminal states self-loop), and eight exact-int64 power
    * iterations from the uniform start return (state, pi_e6,
    * pi_prev_e6, delta_e6) — the last two iterates ship so
    * convergence is visible, not asserted. The transition counting
    * is one distributed window pass; the k²-sized matrix iterates on
    * the driver (the q163 driver-held-model discipline — k is the
    * STATE-ALPHABET size, never the row count).
    */
  def stationaryDistribution(df: DataFrame, key: String,
      orderCols: Seq[Column], state: Column,
      maxCells: Long = MaxStationaryCells): DataFrame = {
    require(orderCols.nonEmpty, "stationaryDistribution needs order columns")
    val s = df.sparkSession
    import s.implicits._
    val w = Window.partitionBy(col(key)).orderBy(orderCols: _*)
    val grouped = df
      .select(col(key) +: state.as("__st") +: orderCols: _*)
      .withColumn("__prev", lag(col("__st"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev"), col("__st"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // loud alphabet guard (the q198 gEntry-envelope discipline): the
    // contract says k is the STATE-ALPHABET size, but nothing stops a
    // caller passing a high-cardinality column — and the collect
    // below would then pull an unbounded cell table onto the driver.
    // The grouped frame is persisted so the guard count and the
    // collect share one aggregation pass; the bound is on observed
    // CELLS (<= k², the thing actually collected), so a sparse
    // matrix over a large-but-legal alphabet still passes.
    val nCells = grouped.count()
    if (nCells > maxCells) grouped.unpersist(blocking = false)
    require(nCells <= maxCells,
      s"stationaryDistribution: $nCells distinct (prev, state) transition " +
        s"cells > $maxCells — the transition matrix is driver-held " +
        "(k = state-alphabet size, never the row count); a high-cardinality " +
        "state column does not fit this operator (raise maxCells only with " +
        "driver memory for the cell table in hand)")
    val counts = grouped.collect()
      .toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    grouped.unpersist(blocking = false)
    graft.queries.Temporal.stationaryCore(counts)
      .toDF("state", "pi_e6", "pi_prev_e6", "delta_e6")
      .orderBy("state")
  }

  /** [[stationaryDistribution]]'s driver-collect envelope: the most
    * (prev, state) transition cells the operator will pull to the
    * driver (~1M cells ≈ a 1024-state alphabet's dense matrix).
    */
  private val MaxStationaryCells = 1L << 20

  /** Condensation-DAG longest-path layering (q202's parameterized
    * form — the processing-order skeleton of any digraph): SCC
    * labels via [[scc]]'s loop, contraction to the condensation
    * (distinct cross-component pairs under a node-sized broadcast
    * label join), then iterative longest-path relaxation whose loud
    * guard doubles as an acyclicity cross-check on the SCC labels.
    * Returns one row per layer: (level, n_sccs, n_nodes,
    * n_out_edges). Scale: the relaxation exchanges only the
    * SCC-sized level table per round; nothing is edge-quadratic.
    */
  def dagLayers(edges: DataFrame, src: String, dst: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val canon = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    graft.Tables.touch(canon)
    val (labels, _) = graft.queries.Mining.sccAssign(canon)
    val lbl = labels.persist(MEMORY_AND_DISK)
    graft.Tables.touch(lbl)
    val cond = canon
      .join(broadcast(lbl.select(col("id").as("src"), col("scc").as("csrc"))),
        "src")
      .join(broadcast(lbl.select(col("id").as("dst"), col("scc").as("cdst"))),
        "dst")
      .filter(col("csrc") =!= col("cdst"))
      .select(col("csrc"), col("cdst")).distinct()
    val census = lbl.groupBy(col("scc")).agg(count(lit(1)).as("n_nodes"))
    val out = graft.queries.Mining.dagLayers(cond, census)
    graft.Ck.release(labels)
    lbl.unpersist(blocking = false)
    canon.unpersist(blocking = false)
    out
  }

  /** Newman degree assortativity (q195's parameterized form) over an
    * arbitrary directed/undirected edge list: edges are canonicalized
    * (a<b, distinct, self-loops dropped) and the Pearson correlation
    * of endpoint degrees is computed from one pass of exact int64
    * sufficient statistics, reported at 4 dp (DECIMAL-exact — see
    * q195). Output: one row (m, n_nodes, max_deg, sx, sxx, sxy,
    * assort_4); assort_4 is NULL for a regular graph (zero degree
    * variance). Int64-safe while m·maxdeg < ~1.5e9.
    */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val out = graft.queries.Mining.assortativityStats(und)
    val ck = out.localCheckpoint(true) // single row — release the edges
    und.unpersist(blocking = false)
    ck
  }
}
