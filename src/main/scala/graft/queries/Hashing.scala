package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable deterministic hashing primitives shared by the dedup /
  * fingerprint operators.
  *
  * Everything here is built on md5-of-UTF8, which Spark and DuckDB
  * compute identically, so the DuckDB oracle can replicate MinHash /
  * SimHash signatures bit-for-bit and the driver's hash-match gate
  * applies to the hash-based operators too (normally they'd only get a
  * weaker rows-only check).
  *
  * All helpers are Column expressions (codegen'd, no UDF): at 100 TB
  * the signature computation is a pure map stage — no shuffle, no
  * driver involvement, prunes to the one text column.
  */
object Hashing {

  /** Whitespace tokens of clean single-space text (matches DuckDB
    * string_split(text, ' ')).
    */
  def words(text: Column): Column = split(text, " ")

  /** Word n-gram shingles, de-duplicated. For docs shorter than n
    * words, one truncated shingle (mirrors the oracle's
    * range(greatest(len-(n-1),1)) guard). Routed through the native
    * [[graft.functions.WordShingles]] expression: the declarative
    * split → transform/slice/concat_ws → array_distinct chain is a
    * CodegenFallback HOF tree evaluated interpreted per row, while
    * the kernel builds the same first-occurrence-ordered distinct
    * array inside whole-stage codegen (bit-identical output — the
    * DuckDB oracles pin it).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.texthash.wordShingles(text, n)

  /** One MinHash value: the lexicographic minimum of md5("<seed>:" ++
    * shingle). Min-over-any-total-order preserves the MinHash
    * collision property, and string ordering of hex md5 is identical
    * across engines — no hex-to-int conversion needed.
    */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(s"$seed:"), s))))

  // ----- banded LSH keys (single source of truth for the geometry) -

  /** Signature width / band geometry shared by every banded-LSH
    * consumer — change HERE or band keys silently diverge between the
    * library API and the oracle-gated plans:
    *  - band buckets grouped once, pairs formed inside each bucket:
    *    `api.ops.nearDupPairs` (q23, the cold labels of q218/q219/
    *    q221) and `api.ops.nearDupCandidates` (ids only);
    *  - band-key equi-joins: the delta and takedown pair passes in
    *    `api.ops`, `api.ops.fuzzyDecontaminate`, and q120, q142, q143,
    *    q145, q158, q206;
    *  - the streaming key space ([[bandKeyStrings]]) and the SQL texts
    *    of `api.SqlSurface`.
    */
  val MinhashK = 12 // minhash values per signature
  val BandRows = 3 // signature rows per band
  val BandCount: Int = MinhashK / BandRows

  /** LSH band keys for a [[MinhashK]]-value minhash signature column:
    * [[BandCount]] bands of [[BandRows]] rows, one md5 key per band as
    * array<struct<band_idx:int, band_key:string>> (explode
    * downstream). Banding spreads candidate generation over
    * independent keys so no single hot shingle can form one quadratic
    * bucket.
    */
  def bandStructs(msig: Column): Column = {
    val ms = (0 until MinhashK).map(i => get(msig, lit(i)))
    array((0 until BandCount).map { b =>
      struct(lit(b).as("band_idx"),
        md5(concat_ws(",",
          (0 until BandRows).map(r => ms(BandRows * b + r)): _*))
          .as("band_key"))
    }: _*)
  }

  /** The streaming operators' NAMESPACED band-key strings for a text
    * column: "band_idx#band_key" per band, one array element each —
    * the single definition of the key space DedupStream's membership
    * index and PairMonitor's bucket state share (a seeded initial
    * state built by one must resolve the keys the other emits).
    */
  def bandKeyStrings(text: Column): Column =
    transform(bandStructs(graft.functions.texthash.minhashSig(text)),
      b => concat_ws("#", b.getField("band_idx"), b.getField("band_key")))

  // ----- universal-hash MinHash family (one md5 per shingle) -------

  /** Mersenne prime 2^31 - 1: (a*h + b) % P with 28-bit h and a,b < P
    * stays within signed-64 exact integer range in both engines (DuckDB
    * errors on int64 overflow rather than wrapping, so bounds matter).
    */
  val P: Long = 2147483647L

  /** Deterministic md5-derived coefficients for permutation i
    * (computed at plan-build time; same values embedded in the oracle
    * SQL — Hashing is the single source of truth for both engines).
    */
  def perm(i: Int): (Long, Long) = {
    def h15(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    (h15(s"a:$i") % (P - 1) + 1, h15(s"b:$i") % P)
  }

  /** 28-bit integer hash of a string: first 7 hex chars of md5. */
  def hash28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** MinHash value i over a pre-hashed 28-bit column, as an aggregate:
    * min((a_i * h + b_i) mod P). 12 permutations cost 1 md5 + 12
    * multiply-adds per shingle instead of 12 md5s.
    */
  def minhashPerm(h: Column, i: Int): Column = {
    val (a, b) = perm(i)
    min((lit(a) * h + lit(b)) % lit(P))
  }

  /** DuckDB: 28-bit hash of expression `e`. */
  def sqlHash28(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 7) AS BIGINT)"

  /** DuckDB: aggregate mirror of [[minhashPerm]] over column `h`. */
  def sqlMinhashPerm(h: String, i: Int): String = {
    val (a, b) = perm(i)
    s"min(($a * $h + $b) % $P)"
  }

  /** 60-bit integer hash of a string: first 15 hex chars of md5.
    * 60 bits keeps it positive in a signed 64-bit long in both engines
    * (DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ----- register sketch (HLL shape) — single source of truth ------
  // shared by q191, ops.distinctSketch, and the streaming
  // DistinctMonitor: one 28-bit hash splits into a 6-bit bucket and a
  // 22-bit remainder whose bit length gives the rank rho; registers
  // merge with element-wise MAX. All estimate arithmetic is exact
  // int64 so the DuckDB oracle hash-matches (no float harmonic mean).

  val HllM = 64L // registers per group (6 bucket bits of the 28)
  private val HllAlpha1e5 = 70934L // alpha_64 = 0.7213/(1+1.079/64), 5dp
  /** alpha_64 * m^2 * 2^32, the fixed-point estimate numerator. */
  val HllNum: Long = HllAlpha1e5 * HllM * HllM * 4294967296L // < 2^61

  /** Linear-counting table for the small-range correction: V zero
    * registers -> round(m * ln(m/V)). The ln runs ONCE here at build
    * time; both engines consume the same 64 integer literals.
    */
  val HllLc: Seq[Long] =
    (1 to HllM.toInt).map(v => math.round(HllM * math.log(HllM.toDouble / v)))

  /** rho of a 28-bit hash = leading-zero count of its 22-bit
    * remainder + 1 = 23 - bit_length(h div 64), as an unrolled
    * comparison ladder — exact in both engines (log2 floats could
    * round differently). Shared with the STREAMING monitor via
    * [[hllRhoOfLong]] so batch and live registers are bit-identical.
    */
  def hllRho(h: Column): Column = {
    val rem = Relational.ldiv(h, lit(HllM))
    (1 to 22).foldLeft(lit(23L)) { (acc, b) =>
      when(rem >= lit(1L << (b - 1)), lit((23 - b).toLong)).otherwise(acc)
    }
  }

  /** JVM twin of [[hllRho]] for streaming state updates. */
  def hllRhoOfLong(h: Long): Int = {
    val rem = h / HllM
    if (rem == 0L) 23 else 23 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
  }

  /** JVM twin of [[hash28]] (md5 hex, first 7 chars, base 16) — the
    * streaming DistinctMonitor hashes with THIS so its registers are
    * bit-identical to the batch sketch's.
    */
  def hash28Of(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 7), 16)
  }

  /** Estimate from the (S, V) sufficient statistics of a DENSE
    * 64-register vector: S = sum(2^(32-r)), V = zero-register count.
    * Raw alpha-corrected harmonic estimate with the standard
    * small-range switch to linear counting while raw <= 2.5m.
    */
  def hllEstimate(s: Column, v: Column): Column = {
    val raw = Relational.ldiv(lit(HllNum), s * lit(100000L))
    when(v > 0L && raw <= lit(HllM * 5L / 2L),
      element_at(typedLit(HllLc), v.cast("int"))).otherwise(raw)
  }

  /** JVM twin of [[hllEstimate]] over a dense register array. */
  def hllEstimateOf(regs: Array[Int]): Long = {
    require(regs.length == HllM.toInt, s"need ${HllM} registers")
    val s = regs.map(r => 1L << (32 - r)).sum
    val v = regs.count(_ == 0).toLong
    val raw = HllNum / (s * 100000L)
    if (v > 0 && raw <= HllM * 5L / 2L) HllLc(v.toInt - 1) else raw
  }

  /** Exact Jaccard similarity of two pre-distinct shingle arrays —
    * counted through the native set-cardinality expressions (no
    * intermediate intersection/union array per candidate pair).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.setcard.intersectSize(a, b).cast("double") /
      graft.functions.setcard.unionSize(a, b).cast("double")

  /** The 15-bit chunk c (0..3) of a 60-bit signature — the pigeonhole
    * blocking key: two signatures within hamming distance 3 must agree
    * on at least one of the 4 chunks.
    */
  def chunk15(sig: Column, c: Int): Column =
    shiftright(sig, 15 * c) % (1 << 15)

  // ----- oracle-side (DuckDB SQL) mirrors of the above -------------

  /** DuckDB: distinct word n-gram shingles of `text`. */
  def sqlShingles(n: Int): String =
    s"""list_distinct(list_transform(
       |    range(greatest(len(string_split(text,' '))-${n - 1}, 1)),
       |    i -> array_to_string(list_slice(string_split(text,' '), i+1, i+$n), ' ')))""".stripMargin

  /** DuckDB: MinHash value for `seed` over a shingle-array column. */
  def sqlMinhash(shCol: String, seed: Int): String =
    s"list_aggregate(list_transform($shCol, x -> md5('$seed:' || x)), 'min')"

  /** DuckDB: 60-bit hash of expression `e`. */
  def sqlHash60(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB: word-hash list of `text` (feed a CTE column named `hs`). */
  def sqlWordHashes: String =
    s"list_transform(string_split(text,' '), w -> ${sqlHash60("w")})"

  /** DuckDB: the 60-term SimHash sum over a list column named `hs`. */
  def sqlSimhashTerms: String =
    (0 until 60).map { b =>
      s"(CASE WHEN 2*len(list_filter(hs, h -> (h >> $b) % 2 = 1)) > len(hs) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
}
