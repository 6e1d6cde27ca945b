package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.api.ops
import graft.functions.TextHashing
import graft.queries.Hashing

/** Randomized equivalence guard for the bucket form of
  * `ops.nearDupPairs` (each LSH band bucket grouped once, its pairs
  * verified inside it). On seeded random corpora its (i, j, jaccard)
  * rows must equal two references: a plain-Scala one (every i < j
  * pair sharing at least one band key with exact 3-shingle Jaccard
  * >= the threshold) and the band self-join plus verify-join body the
  * bucket form replaced, kept here only as a reference. Every corpus
  * holds exact duplicates, near-duplicates that collide in 2 to 4
  * bands, empty, null and shorter-than-3-word texts, and one bucket
  * of 200 members.
  */
class NearDupSpec extends SparkSpec {

  private val Vocab = (0 until 40).map(i => s"w$i")
  private val BigBucket = 200

  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size)))
    val base = (0 until 120).map(_ => words(4 + rnd.nextInt(24)))
    // one- or two-word edits of a base text: high Jaccard, and some of
    // their band keys survive the edit while others do not
    val edits = base.take(60).map { ws =>
      (0 until 1 + rnd.nextInt(2)).foldLeft(ws)((w, _) =>
        w.updated(rnd.nextInt(w.length), Vocab(rnd.nextInt(Vocab.size))))
    }
    val texts = base ++ edits ++ base.take(15) // exact duplicates
    val plain = texts.map(_.mkString(" ")) ++
      Seq("", "", "w1", "w1", "w1 w2", "w1 w2", "w2 w1") ++
      Seq.fill(4)(null: String)
    val bucketText = words(12).mkString(" ")
    val bucket = Seq.fill(BigBucket)(bucketText)
    // sparse, shuffled ids: the bucket form must not lean on id order
    rnd.shuffle(plain ++ bucket).zipWithIndex
      .map { case (t, k) => (k * 7L + 3L, t) }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Hashing.bandStructs in plain Scala: (band_idx, md5 of the band's
    * comma-joined signature values). */
  private def bandKeys(text: String): Set[(Int, String)] = {
    val sig = TextHashing.minhashSig(UTF8String.fromString(text)).toLongArray
    (0 until Hashing.BandCount).map { b =>
      (b, md5Hex((0 until Hashing.BandRows).map(r => sig(Hashing.BandRows * b + r))
        .mkString(",")))
    }.toSet
  }

  private def shingleSet(text: String): Set[String] = {
    val a = TextHashing.wordShingles(UTF8String.fromString(text), 3)
    (0 until a.numElements()).map(a.getUTF8String(_).toString).toSet
  }

  /** Per pair: (i, j, shared band count, exact Jaccard), i < j, over
    * the docs with a text. */
  private def referencePairs(docs: Seq[(Long, String)])
    : Seq[(Long, Long, Int, Double)] = {
    val live = docs.filter(_._2 != null).sortBy(_._1)
      .map { case (id, t) => (id, bandKeys(t), shingleSet(t)) }
    for {
      x <- 0 until live.length
      y <- x + 1 until live.length
      (i, ki, si) = live(x)
      (j, kj, sj) = live(y)
      shared = (ki & kj).size
      if shared > 0
    } yield (i, j, shared,
      (si & sj).size.toDouble / (si | sj).size.toDouble)
  }

  /** The band self-join + two verify joins the bucket form replaced. */
  private def joinPairs(df: DataFrame, minJaccard: Double): DataFrame = {
    val bands = ops.nearDupBands(df, "doc_id", "text")
    val a = bands.alias("a")
    val b = bands.alias("b")
    val cand = a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("i"), col("b.__id").as("j"))
      .distinct()
    val sh = df.select(col("doc_id").as("__id"),
      Hashing.shingles(col("text"), 3).as("__sh"))
    cand.join(sh.select(col("__id").as("i"), col("__sh").as("__sha")), "i")
      .join(sh.select(col("__id").as("j"), col("__sh").as("__shb")), "j")
      .withColumn("jaccard", Hashing.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("i"), col("j"), col("jaccard"))
  }

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("i", "j", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  Seq((11L, 0.5), (12L, 0.3), (13L, 0.8)).foreach { case (seed, minJ) =>
    test(s"nearDupPairs equals both references (seed $seed, jaccard >= $minJ)") {
      val s = spark
      import s.implicits._
      val docs = corpus(seed)
      val df = docs.toDF("doc_id", "text")
      val ref = referencePairs(docs)
      // the corpus holds what the bucket rule must get right
      val shared = ref.map(_._3).toSet
      assert(Set(2, 3, 4).subsetOf(shared), s"shared-band counts $shared")
      assert(ref.count(_._4 == 1.0) >= BigBucket * (BigBucket - 1) / 2)
      val want = ref.filter(_._4 >= minJ).map(r => (r._1, r._2, r._4)).toSet

      val got = ops.nearDupPairs(df, "doc_id", "text", minJ)
      val gotRows = got.collect()
      assert(gotRows.length === want.size, "a pair came out twice")
      assert(triples(got) === want)
      assert(triples(joinPairs(df, minJ)) === want)
      val bands = ops.nearDupBands(df, "doc_id", "text")
      assert(triples(ops.nearDupPairs(df, "doc_id", "text", minJ,
        precomputedBands = Some(bands))) === want)
      val cand = ops.nearDupCandidates(df.filter(col("text").isNotNull),
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cand === ref.map(r => (r._1, r._2)).toSet)
    }
  }
}
