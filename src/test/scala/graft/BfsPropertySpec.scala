package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.api.ops

/** Driver-side BFS reference: plain Scala over an edge list, the
  * oracle the one BFS level loop (ops.bfsLevels) is checked against.
  * Self-loops carry no traversal but still make their node a node.
  */
object BfsReference {
  /** Hop distances from one source set; unreached nodes are absent. */
  def distances(edges: Seq[(Long, Long)], sources: Set[Long]): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  def nodes(edges: Seq[(Long, Long)]): Set[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).toSet

  /** ops.bfsDistances' (id, dist) rows: -1 for a node no seed reaches. */
  def bfsDistances(edges: Seq[(Long, Long)], isSeed: Long => Boolean)
    : Map[Long, Long] = {
    val ns = nodes(edges)
    val d = distances(edges, ns.filter(isSeed))
    ns.map(n => n -> d.getOrElse(n, -1L)).toMap
  }

  /** ops.closenessSample's (node -> (n_seed, sum_d, cent_e6)) rows. */
  def closeness(edges: Seq[(Long, Long)], isSeed: Long => Boolean)
    : Map[Long, (Long, Long, Long)] = {
    val ns = nodes(edges)
    val perSeed = ns.filter(isSeed).toSeq.map(s => distances(edges, Set(s)))
    ns.map { n =>
      val ds = perSeed.flatMap(_.get(n))
      val sum = ds.sum
      n -> ((ds.size.toLong, sum, if (sum > 0) 1000000L * ds.size / sum else 0L))
    }.toMap
  }

  /** The engine's hop count for BFS runs from `sourceSets` side by
    * side: the deepest level any of them reaches, plus the empty
    * exhaustion hop. */
  def hops(edges: Seq[(Long, Long)], sourceSets: Seq[Set[Long]]): Int =
    sourceSets.map(distances(edges, _).values.max).maxOption.getOrElse(0L).toInt + 1
}

/** Randomized equivalence guard for the one BFS level loop, through
  * both of its key shapes: no keys (ops.bfsDistances, one BFS from
  * the whole seed set) and the seed as key (ops.closenessSample, one
  * BFS per seed). Graphs carry self-loops, duplicate and reversed
  * edges, components with no seed, and seeds whose only edge is a
  * self-loop.
  */
class BfsPropertySpec extends SparkSpec {

  /** Raw-scalacheck loop (CcPropertySpec's pattern). Each sample runs
    * real Spark BFS loops, so counts stay modest.
    */
  private def forAllSamples[A](n: Int, g: Gen[A])(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  // a random part over nodes [0, n), a path over [100, 100 + p) whose
  // far end sits p - 1 hops from its seed, a seedless triangle
  // (ids 201-203, no id divisible by 4) and an isolated node 300
  // whose only edge is a self-loop; repeats, reversals and
  // self-loops everywhere
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 16)
    m <- Gen.choose(1, 24)
    rnd <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1)
      b <- Gen.choose(0, n - 1)
    } yield (a.toLong, b.toLong))
    p <- Gen.choose(2, 6)
    dup <- Gen.oneOf(true, false)
  } yield {
    val path = (100 until 100 + p - 1).map(i => (i.toLong, i + 1L))
    val tri = Seq((201L, 202L), (202L, 203L), (203L, 201L))
    rnd ++ path ++ tri ++ Seq((300L, 300L)) ++
      (if (dup) path.map(_.swap) ++ rnd.take(3) else Nil)
  }

  // seeds: every multiple of 4 (100 and 300 always; 0, 4, ... and
  // 104 when present)
  private val isSeed: Long => Boolean = _ % 4L == 0L
  private val seedCol: Column => Column = _ % 4L === 0L

  private def rows3(df: DataFrame): Map[Long, (Long, Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("bfsDistances (no keys) equals a plain-Scala BFS on random graphs") {
    val s = spark
    import s.implicits._
    forAllSamples(12, graphGen) { es =>
      val (dist, hops) = ops.bfsDistances(es.toDF("s", "d"), "s", "d", seedCol)
      val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Ck.release(dist)
      assert(got == BfsReference.bfsDistances(es, isSeed), s"edges=$es")
      val seeds = BfsReference.nodes(es).filter(isSeed)
      assert(hops == BfsReference.hops(es, Seq(seeds)), s"hops=$hops edges=$es")
    }
  }

  test("closenessSample (seed as key) equals a plain-Scala per-seed BFS on random graphs") {
    val s = spark
    import s.implicits._
    forAllSamples(12, graphGen) { es =>
      val (cent, hops) = ops.closenessSample(es.toDF("s", "d"), "s", "d", seedCol)
      val got = rows3(cent)
      Ck.release(cent)
      assert(got == BfsReference.closeness(es, isSeed), s"edges=$es")
      val seeds = BfsReference.nodes(es).filter(isSeed).toSeq.map(Set(_))
      assert(hops == BfsReference.hops(es, seeds), s"hops=$hops edges=$es")
    }
  }
}
