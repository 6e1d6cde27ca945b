package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{SqlSurface, ops}

/** Algorithm-level checks for the mining operators: the distributed
  * implementations must agree with brute-force enumeration on small
  * random inputs (the oracle gates pin end-to-end results on the
  * testdata; these pin the ALGORITHM on adversarial shapes — hubs,
  * isolated nodes, duplicate/reversed edges, self-loops).
  */
class MiningSpec extends SparkSpec {

  /** The SCC driver over each body set it runs: Mining's DataFrame
    * bodies and the SQL surface's texts. */
  private def sccDrivers: Seq[(String, DataFrame => (DataFrame, Int))] = Seq(
    "dataframe" -> (e => queries.Mining.sccAssign(e)),
    "sql" -> (e => SqlSurface.sccLoopSqlOn(spark, e)))

  test("triangleCounts matches brute force on random graphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      // raw edge list with noise: duplicates, reversed copies, loops
      val raw = (for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.12
      } yield (i.toLong, j.toLong)) ++ Seq((3L, 3L), (5L, 5L))
      val edges = rnd.shuffle(raw ++ raw.take(10).map(_.swap)).toDF("a", "b")

      // brute force over the canonical adjacency set
      val und = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      for {
        x <- nodes; y <- nodes if x < y && und((x, y))
        z <- nodes if y < z && und((y, z)) && und((x, z))
      } {
        expected(x) = expected.getOrElse(x, 0L) + 1
        expected(y) = expected.getOrElse(y, 0L) + 1
        expected(z) = expected.getOrElse(z, 0L) + 1
      }

      val got = ops.triangleCounts(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected.toMap, s"trial $trial, n=$n")
    }
  }

  test("removeRepeatedSpans matches a naive per-document rewrite") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1 to 40).map { id =>
      val len = 3 + rnd.nextInt(15)
      (id.toLong, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val g = 4
    // naive: global gram counts, then per-doc covered-position scan
    val gramsOf = (t: String) => t.split(" ").sliding(g)
      .filter(_.length == g).map(_.mkString(" ")).toVector
    val counts = docs.flatMap { case (_, t) => gramsOf(t) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val expected: Map[Long, (String, Long)] = docs.map { case (id, t) =>
      val ws = t.split(" ").toVector
      val covered = gramsOf(t).zipWithIndex.collect {
        case (gr, i) if counts(gr) >= 2 => (i until i + g)
      }.flatten.toSet
      val kept = ws.indices.filterNot(covered).map(ws)
      id -> ((kept.mkString(" "), (ws.size - kept.size).toLong))
    }.toMap

    val got = ops.removeRepeatedSpans(docs.toDF("id", "text"), "id", "text", g)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === expected)
  }

  test("q195 assortativity matches an exact BigInt replay of Newman's r") {
    val dir = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("q195_assortativity")(spark, dir).collect().head
    // replay the edge derivation + statistic with arbitrary precision
    val und = queries.Mining.undGraph(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(und.nonEmpty)
    val deg = und.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val e2 = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val m2 = BigInt(e2.length)
    val sx = e2.map { case (u, _) => BigInt(deg(u)) }.sum
    val sxx = e2.map { case (u, _) => BigInt(deg(u)) * deg(u) }.sum
    val sxy = e2.map { case (u, v) => BigInt(deg(u)) * deg(v) }.sum
    assert(BigInt(row.getLong(0)) * 2 == m2, "m")
    assert(BigInt(row.getLong(3)) == sx && BigInt(row.getLong(4)) == sxx &&
      BigInt(row.getLong(5)) == sxy, "sufficient statistics")
    val num = m2 * sxy - sx * sx
    val den = m2 * sxx - sx * sx
    if (den == 0) assert(row.isNullAt(6))
    else {
      val q = (BigInt(20000) * num.abs + den) / (den * 2)
      val expected = (if (num < 0) -q else q).toDouble / 10000.0
      assert(row.getDouble(6) == expected,
        s"r: got ${row.getDouble(6)} expected $expected")
      assert(math.abs(row.getDouble(6)) <= 1.0001, "correlation out of range")
    }
  }

  test("sccAssign matches brute-force SCC on adversarial graphs") {
    val s = spark
    import s.implicits._
    def brute(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val reach = Array.fill(n, n)(false)
      edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map { v =>
        v -> (nodes.filter(u => u == v ||
          (reach(u.toInt)(v.toInt) && reach(v.toInt)(u.toInt)))).min
      }.toMap
    }
    def check(label: String, n: Int, edges: Seq[(Long, Long)]): Unit = {
      val df = edges.toDF("src", "dst")
      val want = brute(n, edges)
      for ((driver, scc) <- sccDrivers) {
        val (lbl, rounds) = scc(df)
        val got = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.Ck.release(lbl)
        assert(got == want, s"$label diverged on $driver bodies (rounds=$rounds)")
      }
    }
    // two 3-cycles joined by a one-way bridge (two SCCs, not one)
    check("bridged cycles", 8,
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 4L),
        (4L, 5L), (5L, 6L), (6L, 4L)))
    // pure DAG: every node its own SCC — trim alone must dissolve it
    check("dag", 8,
      Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L)))
    // id-DECREASING cycle chain — the coloring worst case shape:
    // cycles where the max id sits at the "wrong" end of the bridges
    check("decreasing chain of cycles", 10,
      Seq((9L, 8L), (8L, 9L), (8L, 5L), (5L, 4L), (4L, 5L), (4L, 1L),
        (1L, 0L), (0L, 1L)))
    // random sparse digraphs vs Floyd-Warshall
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 25 + trial * 10
      val edges = (for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.055
      } yield (i.toLong, j.toLong)).distinct
      check(s"random n=$n", n, edges)
    }
  }

  test("sccAssign giant-diameter SCC converges in O(log d) collect rounds") {
    // a single directed 600-cycle: ONE SCC whose backward diameter
    // (599) exceeds the old one-step-per-round collect's 500-round
    // guard — only the doubled (pointer-jumped) collect finishes.
    // Every web-scale graph has a giant SCC; this is its miniature.
    val s = spark
    import s.implicits._
    val n = 600
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    for ((driver, scc) <- sccDrivers) {
      graft.LoopStats.drain()
      val (lbl, outer) = scc(ring)
      val got = lbl.collect()
      graft.Ck.release(lbl)
      assert(got.length == n && got.forall(_.getLong(1) == 0L),
        s"$driver: ring must be one SCC labeled 0")
      assert(outer == 1, s"$driver: one trim-free outer round, got $outer")
      val stats = graft.LoopStats.drain()
      val bw = stats.getOrElse("scc_bw", -1L)
      // the trial stopped (freeze or budget) and the doubled
      // back-round fixpoint ran
      assert(stats.getOrElse("scc_bail_at", 0L) > 0L,
        s"$driver: the one-step trial never stopped: $stats")
      // round-12 shape: the probe-gated bail must abandon the one-step
      // trial by round ~7 (the ring's frontier adds exactly one node
      // per round — flat nNew, and the stagnation probe counts ~n
      // remaining against a budget that covers ~58), then the
      // fresh+stale-jump fixpoint finishes in O(log 600) expected
      // rounds — nowhere near the 64-round trial the r11 hybrid burned
      // first, let alone the linear 599 of the round-7 one-step-only
      // collect. (An id-ordered max walk WOULD be linear even when
      // jump-accelerated: this ring is exactly the adversarial
      // monotone case the hash-scrambled propagation order defuses.)
      assert(bw > 6L && bw <= 30L,
        s"$driver: collect rounds not [bail-by-7 + O(log) fixpoint]: $bw")
    }
  }

  test("dagLayers stratifies a hand-built condensation by longest path") {
    val s = spark
    import s.implicits._
    // DAG: A(0)->B(1)->D(3), A->C(2)->D, D->E(4); plus isolated F(5)
    // longest-path levels: A=0 F=0, B=1 C=1, D=2, E=3
    val cond = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("csrc", "cdst")
    val census = Seq((0L, 3L), (1L, 1L), (2L, 2L), (3L, 5L), (4L, 1L),
      (5L, 7L)).toDF("scc", "n_nodes")
    val got = queries.Mining.dagLayers(cond, census).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 10L, 2L),  // A (2 out) + F (0 out)
      (1L, 2L, 3L, 2L),   // B, C (1 out each)
      (2L, 1L, 5L, 1L),   // D
      (3L, 1L, 1L, 0L)),  // E
      got.mkString(", "))
    // end-to-end: scc labels + layering on a two-SCC chain digraph
    val g = Seq((0L, 1L), (1L, 0L), (1L, 5L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    val (labels, _) = queries.Mining.sccAssign(g)
    val lbl = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Ck.release(labels)
    assert(lbl == Map(0L -> 0L, 1L -> 0L, 5L -> 5L, 6L -> 5L))
  }

  test("q196 HITS matches an exact integer replay of the fixed-point iteration") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q196_hits")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 20)
    // replay: same edge derivation, same (x*10^4) div max renormalize
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = ev.map(_._1).max + 1
    val edges = ev.map { case (u, k) => (u, (u * 31 + k) % n) }
      .filter { case (s0, d) => s0 != d }.distinct
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val outE = edges.groupBy(_._1); val inE = edges.groupBy(_._2)
    var h = nodes.map(_ -> 10000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 4) {
      val rawA = nodes.map(v =>
        v -> inE.getOrElse(v, Array.empty[(Long, Long)]).map(e => h(e._1)).sum).toMap
      val mxA = rawA.values.max
      a = rawA.map { case (v, x) => v -> (x * 10000L) / mxA }
      val rawH = nodes.map(v =>
        v -> outE.getOrElse(v, Array.empty[(Long, Long)]).map(e => a(e._2)).sum).toMap
      val mxH = rawH.values.max
      h = rawH.map { case (v, x) => v -> (x * 10000L) / mxH }
    }
    def top10(m: Map[Long, Long]): Seq[(Long, Long)] =
      m.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val expAuth = top10(a); val expHub = top10(h)
    got.filter(_._1 == "auth").sortBy(_._2).zip(expAuth).foreach {
      case ((_, _, node, score), (eid, esc)) =>
        assert(node == eid && score == esc, s"auth: ($node,$score) vs ($eid,$esc)")
    }
    got.filter(_._1 == "hub").sortBy(_._2).zip(expHub).foreach {
      case ((_, _, node, score), (eid, esc)) =>
        assert(node == eid && score == esc, s"hub: ($node,$score) vs ($eid,$esc)")
    }
  }
}
