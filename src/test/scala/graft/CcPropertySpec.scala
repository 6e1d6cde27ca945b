package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.api.ops

/** Randomized equivalence guard for the round-11 two-phase cc engine
  * (large-star/small-star contraction): on arbitrary small graphs,
  * the distributed fixpoint's labels must equal a driver-side
  * union-find oracle — cold, and warm-started from a previous
  * fixpoint through a random insert/delete changelog with correctly
  * reported deletes. The fixed specs (CcLoopSpec) pin known shapes;
  * this spec walks the space fixed shapes can't enumerate (random
  * merges, splits, re-inserted deletes, repeated and reversed edges,
  * non-contiguous ids).
  */
class CcPropertySpec extends SparkSpec {

  /** Raw-scalacheck loop (HysteresisSpec's pattern — the
    * scalatestplus bridge is not in the offline cache). Each sample
    * runs real Spark fixpoints, so counts stay modest.
    */
  private def forAllSamples[A](n: Int, g: Gen[A])(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  /** Driver-side oracle: canonical min-labels via union-find over
    * non-self edges.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val p = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (a, b) =>
      if (a != b) { p.getOrElseUpdate(a, a); p.getOrElseUpdate(b, b) }
    }
    def find(x: Long): Long = {
      var r = x
      while (p(r) != r) r = p(r)
      var c = x
      while (p(c) != c) { val n = p(c); p(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) p(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val roots = p.keys.map(n => n -> find(n)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (n, r) => n -> minOf(r) }
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  // node ids deliberately sparse/non-contiguous (id * 7 + 3); edges
  // may repeat, reverse, and self-loop
  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 14)
    m <- Gen.choose(1, 24)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1)
      b <- Gen.choose(0, n - 1)
    } yield (a.toLong * 7 + 3, b.toLong * 7 + 3))
  } yield es

  test("cold two-phase labels equal driver union-find on random graphs") {
    val s = spark
    import s.implicits._
    forAllSamples(25, edgeGen) { es =>
      val real = es.filter(e => e._1 != e._2)
      if (real.nonEmpty) {
        val (labels, rounds) =
          ops.connectedComponentsCurve(es.toDF("s", "d"), "s", "d")
        val got = labelMap(labels)
        Ck.release(labels)
        assert(got == unionFind(real), s"edges=$es rounds=${rounds.length}")
      }
    }
  }

  /** The aggregate-then-join-back round body that ops.star2Round
    * replaced (a node-keyed min aggregate joined back to the
    * neighbour list, a dedup aggregate, a per-node group aggregate
    * joined back again): kept here only as the reference the
    * window-form round must reproduce row for row.
    */
  private def star2RoundJoins(e: DataFrame): DataFrame = {
    val nbr = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val mins = nbr.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    val large = nbr.join(mins, "u").filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"),
        (col("m") =!= col("u")).as("c"))
      .groupBy(col("a"), col("b")).agg(max(col("c")).as("cl"))
    val g = large.groupBy(col("b"))
      .agg(min(col("a")).as("m"), max(col("cl")).as("mc"),
        count(lit(1)).as("cnt"))
      .select(col("b"), col("m"), (col("mc") || (col("cnt") > 1L)).as("gc"))
    val rewired = large.join(g, "b")
      .filter(col("a") =!= col("m"))
      .select(col("m").as("sa"), col("a").as("sb"), col("gc"))
    val selfE = g.select(col("m").as("sa"), col("b").as("sb"), col("gc"))
    rewired.unionByName(selfE)
      .groupBy(col("sa"), col("sb")).agg(max(col("gc")).as("chg"))
      .select(col("sa").as("a"), col("sb").as("b"), col("chg"))
  }

  private def roundRows(df: DataFrame): Seq[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq.sorted

  test("window-form star2Round returns the aggregate+join round's rows in every round") {
    val s = spark
    import s.implicits._
    forAllSamples(25, edgeGen) { es =>
      if (es.exists(e => e._1 != e._2)) {
        // both bodies consume the SAME input each round, so the
        // whole multi-round curve is compared, not just round 1
        var e = ops.ccCanon(es.toDF("s", "d"), "s", "d").distinct()
          .localCheckpoint(true)
        var rounds = 0
        var changed = true
        while (changed) {
          rounds += 1
          assert(rounds <= 50, s"no convergence: edges=$es")
          val got = roundRows(ops.star2Round(e))
          assert(got == roundRows(star2RoundJoins(e)),
            s"round $rounds diverges: edges=$es")
          changed = got.exists(_._3)
          val next = got.map(r => (r._1, r._2)).toDF("a", "b").localCheckpoint(true)
          Ck.release(e)
          e = next
        }
        Ck.release(e)
      }
    }
  }

  // changelog: base graph + random inserts + deletes drawn FROM the
  // base (so the reported delete list can be made exact)
  private val deltaGen: Gen[(Seq[(Long, Long)], Seq[(Long, Long)], Seq[Int])] =
    for {
      base <- edgeGen
      ins <- edgeGen
      delIdx <- Gen.listOfN(4, Gen.choose(0, 63))
    } yield (base, ins, delIdx)

  test("warm two-phase equals the cold union-find on random insert/delete changelogs") {
    val s = spark
    import s.implicits._
    forAllSamples(15, deltaGen) { case (base0, ins0, delIdx) =>
      val base = base0.filter(e => e._1 != e._2).distinct
      val ins = ins0.filter(e => e._1 != e._2)
      if (base.nonEmpty) {
        val dels = delIdx.map(i => base(i % base.size)).distinct
        val next = (base.filterNot(dels.contains) ++ ins).distinct
        if (next.nonEmpty) {
          val (lab0, _) =
            ops.connectedComponentsCurve(base.toDF("s", "d"), "s", "d")
          // CONTRACT: report every base edge absent from the new set
          // (a delete an insert re-added is not absent; a reversed
          // re-insert makes the report an OVER-statement, which the
          // contract allows — the component just re-verifies cold)
          val reported = dels.filterNot(next.contains)
          val delDf =
            if (reported.isEmpty) base.toDF("s", "d").filter(lit(false))
            else reported.toDF("s", "d")
          val (warm, _) = ops.incrementalConnectedComponents(
            lab0, next.toDF("s", "d"), delDf, "s", "d")
          val got = labelMap(warm)
          Ck.release(lab0); Ck.release(warm)
          assert(got == unionFind(next),
            s"base=$base dels=$reported ins=$ins")
        }
      }
    }
  }
}
