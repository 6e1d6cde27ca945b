package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.api.ops

/** The composable API surface: semantics unit-checked on small
  * frames, and the LSH/ANN transforms cross-checked against the
  * corresponding oracle-gated queries (same pipelines, parameterized
  * inputs).
  */
class ApiSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("dedupExact keeps the deterministic min-tiebreak survivor") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L))
      .toDF("k", "id")
    val out = ops.dedupExact(df, Seq("k"), "id").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("a", 1L), ("b", 9L)))
  }

  test("sessionize splits on gaps and numbers sessions per key") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 05:00:00"))
      .toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val out = ops.sessionize(df, "k", "ts", gapSeconds = 1800)
      .orderBy("k", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out === Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("hashSample is deterministic and close to the nominal rate") {
    val df = Tables.documents(spark, dir)
    val a = ops.hashSample(df, "doc_id", 200000L, "s1") // 20%
    val b = ops.hashSample(df, "doc_id", 200000L, "s1")
    assert(a.count() === b.count())
    val n = df.count().toDouble
    assert(math.abs(a.count() / n - 0.2) < 0.1, s"rate=${a.count() / n}")
    // different salt -> different (but still deterministic) subset
    val c = ops.hashSample(df, "doc_id", 200000L, "s2")
    assert(c.count() > 0 && c.except(a).count() > 0)
  }

  test("closenessSample: per-seed distances, estimator, and exhaustion proof on a path + second component") {
    val s = spark
    import s.implicits._
    // path 0-1-2-3-4 (seed 0) and edge 7-8 (seed 7): per-seed BFS
    // must NOT cross components, the estimator divides by reached
    // seeds only, and a seed's own row is (1, 0, 0)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("a", "b")
    val (cent, hops) = ops.closenessSample(edges, "a", "b",
      c => c === 0L || c === 7L)
    val m = cent.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(0L) === ((1L, 0L, 0L)))
    assert(m(1L) === ((1L, 1L, 1000000L)))
    assert(m(2L) === ((1L, 2L, 500000L)))
    assert(m(4L) === ((1L, 4L, 250000L)))
    assert(m(7L) === ((1L, 0L, 0L)))
    assert(m(8L) === ((1L, 1L, 1000000L)))
    // 4 expanding hops (the 0->4 chain) + 1 empty exhaustion proof
    assert(hops === 5)
  }

  test("autoPlanes: integer ladder — base at small corpora, one plane per doubling, capped") {
    // the round-16 corpus-scaled blocking (verdict item 4): smallest
    // p in [4, 12] with n <= 256 << p. Integer comparisons only —
    // the oracle ladder (sqlMarginPlanesLadder) mirrors these exact
    // boundaries, so engine float-log2 disagreement cannot occur
    assert(ops.autoPlanes(1L) === 4)
    assert(ops.autoPlanes(250L) === 4)    // the sf0.01 q224 side
    assert(ops.autoPlanes(1000L) === 4)   // the sf0.1 q224 side
    assert(ops.autoPlanes(256L << 4) === 4)   // boundary: exactly fits
    assert(ops.autoPlanes((256L << 4) + 1) === 5)
    assert(ops.autoPlanes(100000L) === 9) // the m=100 probe side
    assert(ops.autoPlanes(256L << 12) === 12)
    assert(ops.autoPlanes(Long.MaxValue / 4) === 12) // capped
  }

  test("marginMine: mutual-best matching, threshold, and side-swap symmetry") {
    // sf0.01: sf0.001's ~1-vector buckets mostly produce singleton
    // candidate lists, whose margin is exactly 1.0 by construction
    // (the criterion refuses evidence-free pairs) — the interesting
    // behavior needs populated buckets
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 === 1)
    val m = ops.marginMine(a, b, "vec_id", "embedding").collect()
    assert(m.nonEmpty)
    // mutual-best is a partial MATCHING: every endpoint at most once
    val srcs = m.map(_.getLong(0)); val dsts = m.map(_.getLong(1))
    assert(srcs.distinct.length === srcs.length)
    assert(dsts.distinct.length === dsts.length)
    assert(srcs.forall(_ % 2 == 0) && dsts.forall(_ % 2 == 1))
    assert(m.forall(_.getLong(3) >= 1200L)) // tauE3 honored
    // the margin criterion, buckets, and mutual-best selection are
    // all symmetric in the sides: swapping A and B mirrors the set
    val swapped = ops.marginMine(b, a, "vec_id", "embedding").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSet === swapped)
  }

  test("nearDupPairs matches the oracle-gated q23 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.nearDupPairs(docs, "doc_id", "text", 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q23 = SparkEntry.queries("q23_minhash_lsh")(spark, dir)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api === q23)
  }

  test("chunk covers every token with the requested overlap") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" ")))
      .toDF("id", "text")
    val out = ops.chunk(df, "id", "text", window = 10, stride = 5)
      .orderBy("chunk_idx").collect()
    assert(out.length === 4) // ceil((25-10)/5)+1
    val first = out(0).getAs[String]("chunk_text").split(" ")
    val second = out(1).getAs[String]("chunk_text").split(" ")
    assert(first.takeRight(5).toSeq === second.take(5).toSeq) // overlap
    assert(out.map(_.getAs[Long]("n_tokens")).sum >= 25) // full coverage
    assert(out.last.getAs[String]("chunk_text").endsWith("t25"))
  }

  test("packSequences respects the token budget within every pack") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("n_tok"))
    val packed = ops.packSequences(docs, "doc_id", "n_tok", budget = 2048)
    val over = packed.groupBy("pack_id")
      .agg(sum(least(col("n_tok"), lit(2048L))).as("tot"))
      .filter(col("tot") > 2048L)
    assert(over.count() === 0)
    // everything is packed exactly once
    assert(packed.count() === docs.count())
  }

  test("decontaminate flags exactly the overlapping docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("id", "text")
    val eval = Seq((99L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val out = ops.decontaminate(corpus, eval, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_overlap"))).toSeq
    assert(out.head._1 === 1L && out.head._2 >= 1L) // shares 5-grams
    assert(out(1)._2 === 0L)
  }

  test("fuzzyDecontaminate flags near-dup but not unrelated docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("id", "text")
    // near-dup of doc 1 (one word changed), nothing like doc 2
    val eval = Seq((99L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("id", "text")
    val out = ops.fuzzyDecontaminate(corpus, eval, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_eval_matches"))).toSeq
    assert(out === Seq((1L, 1L), (2L, 0L)))
  }

  test("kAnonymityAudit flags exactly the rows in below-k QI groups") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(5)(("a", "x")) ++ Seq.fill(2)(("a", "y")))
      .zipWithIndex.map { case ((p, q), i) => (i.toLong, p, q) }
      .toDF("id", "p", "q")
    val out = ops.kAnonymityAudit(df, Seq("p", "q"), k = 5L)
      .select("q", "qi_group_size", "below_k").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set(("x", 5L, 0L), ("y", 2L, 1L)))
  }

  test("lexicalDrift is 0 for an identical distribution and ~1 for disjoint ones") {
    val s = spark
    import s.implicits._
    // two groups with IDENTICAL text => each group's distribution
    // equals the corpus distribution => TVD 0
    val same = Seq(("g1", "a b c"), ("g2", "a b c")).toDF("g", "text")
    val d0 = ops.lexicalDrift(same, "g", "text")
      .collect().map(_.getAs[Double]("tvd4")).toSeq
    assert(d0 === Seq(0.0, 0.0))
    // disjoint vocabularies, equal sizes => TVD = 0.5 vs the pooled corpus
    val disj = Seq(("g1", "a a a"), ("g2", "b b b")).toDF("g", "text")
    val d1 = ops.lexicalDrift(disj, "g", "text")
      .collect().map(_.getAs[Double]("tvd4")).toSeq
    assert(d1 === Seq(0.5, 0.5))
  }

  test("qualityGate keeps the deterministic top fraction per group") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => ("g", i.toLong, 100L - i)).toDF("g", "id", "score")
    val kept = ops.qualityGate(df, "g", "score", "id", keepPerMille = 300)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L)) // highest scores are lowest ids
  }

  test("cosineTopK matches the oracle-gated q27 pipeline") {
    val e = Tables.embeddings(spark, dir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding"))
    val api = ops.cosineTopK(corpus, queries, k = 6)
      // q27 excludes self-matches; the API keeps them (rank 1, cos 1.0)
      .filter(col("qid") =!= col("id"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("id"))))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val q27 = SparkEntry.queries("q27_embed_topk")(spark, dir)
      .select("q_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(api === q27)
  }

  test("removeRepeatedSpans deletes exactly the duplicated grams") {
    val s = spark
    import s.implicits._
    // "a b c d e" appears in docs 1 and 2 -> removed from both;
    // doc 3 shares no 3-gram -> untouched; doc 4 is shorter than g
    val df = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c d e z w"),
      (3L, "p q r s t u v"),
      (4L, "a b")).toDF("id", "text")
    val out = ops.removeRepeatedSpans(df, "id", "text", g = 5)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) === ((1L, "x y", 5L)))
    assert(out(1) === ((2L, "z w", 5L)))
    assert(out(2) === ((3L, "p q r s t u v", 0L)))
    assert(out(3) === ((4L, "a b", 0L)))
  }

  test("removeRepeatedSpans agrees with the oracle-gated q110 accounting") {
    val docs = Tables.documents(spark, dir)
    val api = ops.removeRepeatedSpans(docs, "doc_id", "text")
      .agg(sum("n_removed_words")).head.getLong(0)
    val q110 = SparkEntry.queries("q110_span_removal")(spark, dir)
      .agg(sum("words_removed")).head.getLong(0)
    assert(api === q110)
  }

  test("zscoreAnomalies flags the spike and skips short history") {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i =>
      (1L, f"2024-01-01 00:$i%02d:00", i.toLong, 10.0 + (i % 3) * 0.01))
    val spike = Seq((1L, "2024-01-01 00:31:00", 31L, 500.0))
    val df = (base ++ spike).toDF("k", "ts", "id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = ops.zscoreAnomalies(df, "k", "ts", "v", "id")
      .filter(col("is_anomaly")).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(31L))
  }

  test("zscoreAnomalies agrees with the oracle-gated q112 counts") {
    val ev = Tables.events(spark, dir)
    val api = ops.zscoreAnomalies(ev, "event_type", "ts", "value", "event_id")
      .filter(col("is_anomaly")).count()
    val q112 = SparkEntry.queries("q112_zscore_anomaly")(spark, dir)
      .agg(sum("n_anomalies")).head.getLong(0)
    assert(api === q112)
  }

  test("ewma fades history geometrically and agrees with q153") {
    val s = spark
    import s.implicits._
    // one key, constant 1.00 then a jump to 9.00: the smoothed level
    // must sit strictly between the old and new levels, closer to new
    val df = ((1 to 8).map(i => (1L, f"2024-01-01 00:$i%02d:00", i.toLong, 1.0)) :+
      (1L, "2024-01-01 00:09:00", 9L, 9.0)).toDF("k", "ts", "id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val lvl = ops.ewma(df, "k", "ts", "id", "v")
      .filter(col("id") === 9L).head.getAs[Double]("ewma_c4")
    // num = 128*900 + 127*100, den = 255 -> 501.5686 cents
    assert(lvl === 501.5686)
    // corpus-scale agreement: latest-row levels match q153
    val ev = Tables.events(spark, dir)
    val api = ops.ewma(ev, "user_id", "ts", "event_id", "value")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("ewma_c4"))
    val q153 = SparkEntry.queries("q153_ewma_decay")(spark, dir)
      .select(col("user_id"), col("ewma_c4"))
    assert(api.except(q153).count() === 0 && q153.except(api).count() === 0)
  }

  test("bagDedupAudit counts order-shuffled duplicates, not byte copies") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "g", "a b c"), (2L, "g", "c b a"),   // same bag, shuffled
      (3L, "g", "a b c"),                        // byte copy of 1
      (4L, "g", "x y z")).toDF("id", "src", "text")
    val r = ops.bagDedupAudit(df, "src", "text").head
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Long]("n_bags") === 2L)
    assert(r.getAs[Long]("n_texts") === 3L)
    assert(r.getAs[Long]("bag_dup_docs") === 2L)
    assert(r.getAs[Long]("shuffle_only_texts") === 1L)
  }

  test("hardNegatives agrees with the oracle-gated q155 pipeline") {
    val emb = Tables.embeddings(spark, dir)
    val api = ops.hardNegatives(emb, "vec_id", "embedding", "label")
      .select(col("label").as("qlabel"), col("rank"),
        col("id").as("vec_id"), col("neg_label"), col("cos_sim"))
    val q155 = SparkEntry.queries("q155_hard_negatives")(spark, dir)
    assert(api.except(q155).count() === 0 && q155.except(api).count() === 0)
  }

  test("wordConcentration agrees with the oracle-gated q156 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.wordConcentration(docs, "doc_id", "text")
      .select("doc_id", "n_words", "hhi4", "top_share4")
    val q156 = SparkEntry.queries("q156_word_concentration")(spark, dir)
      .select("doc_id", "n_words", "hhi4", "top_share4")
    assert(api.except(q156).count() === 0 && q156.except(api).count() === 0)
  }

  test("importanceResample agrees with the oracle-gated q164 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.importanceResample(docs, "doc_id", "text",
        col("lang") === "en")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_kept"),
        sum(col("score_e4")).as("sum_score_e4"),
        min(when(col("kept"), col("doc_id"))).as("min_kept_doc"))
    val q164 = SparkEntry.queries("q164_importance_resample")(spark, dir)
    assert(api.except(q164).count() === 0 && q164.except(api).count() === 0)
  }

  test("connectedComponents agrees with the oracle-gated q161 pipeline") {
    val und = graft.queries.Mining.sparseUnd(spark, dir)
    val (labels, rounds) = ops.connectedComponents(und, "a", "b")
    assert(rounds > 0 && rounds < 50, s"rounds=$rounds")
    val api = labels.groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_node"))
    val q161 = SparkEntry.queries("q161_connected_components")(spark, dir)
    assert(api.except(q161).count() === 0 && q161.except(api).count() === 0)
  }

  test("epochShard agrees with the oracle-gated q174 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.epochShard(docs, "doc_id", 1, 8)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
    val q174 = SparkEntry.queries("q174_epoch_shards")(spark, dir)
      .filter(col("epoch") === 1L).select(col("shard"), col("n_docs"))
    assert(api.except(q174).count() === 0 && q174.except(api).count() === 0)
  }

  test("blocklistAudit agrees with the oracle-gated q173 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.blocklistAudit(docs, "text",
      graft.queries.TextAnalysis.BlockNeedles)
    val q173 = SparkEntry.queries("q173_blocklist_scan")(spark, dir)
    assert(api.except(q173).count() === 0 && q173.except(api).count() === 0)
  }

  test("bfsDistances agrees with the oracle-gated q172 pipeline") {
    val und = graft.queries.Mining.sparseUnd(spark, dir)
    val (dist, hops) = ops.bfsDistances(und, "a", "b", _ % 97L === 0L)
    assert(hops > 0 && hops < 40, s"hops=$hops")
    val api = dist.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
    val q172 = SparkEntry.queries("q172_bfs_hops")(spark, dir)
    assert(api.except(q172).count() === 0 && q172.except(api).count() === 0)
  }

  test("bfsDistances two-level visited check is exact on hand graphs") {
    val s = spark
    import s.implicits._
    def distSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a path pins exact level assignment hop by hop; the odd CYCLE
    // pins the level-d re-touch case the two-level check must absorb
    // (both ends of the cycle meet at the far side: each final
    // frontier node neighbors the OTHER dist-2 node — excluded by
    // the level-d anti-join, not the d-1 one)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val (d1, h1) = ops.bfsDistances(path, "s", "d", _ === 0L)
    assert(h1 == 5, s"h1=$h1")
    assert(distSet(d1) == Set((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    Ck.release(d1)
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
      .toDF("s", "d")
    val (dc, hc) = ops.bfsDistances(cyc, "s", "d", _ === 0L)
    assert(hc == 3, s"hc=$hc")
    assert(distSet(dc) == Set((0L, 0L), (1L, 1L), (4L, 1L), (2L, 2L), (3L, 2L)))
    Ck.release(dc)
    // an even cycle: the far node is reached from BOTH sides in the
    // same round — the distinct must collapse it to one row
    val cyc6 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L))
      .toDF("s", "d")
    val (d6, h6) = ops.bfsDistances(cyc6, "s", "d", _ === 0L)
    assert(h6 == 4, s"h6=$h6")
    assert(distSet(d6) == Set((0L, 0L), (1L, 1L), (5L, 1L), (2L, 2L),
      (4L, 2L), (3L, 3L)))
    Ck.release(d6)
  }

  test("pagerank reaches the closed-form fixpoint and ranks dst-only nodes") {
    val s = spark
    import s.implicits._
    // symmetric 2-cycle: the uniform vector IS the fixpoint — one
    // round, zero movement, ranks stay at the 1e9 base
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val (prCyc, curveCyc, rCyc) = ops.pagerank(cyc, "s", "d")
    assert(rCyc === 1 && curveCyc === Seq((1L, 0L)))
    assert(prCyc.collect().map(_.getLong(1)).toSet === Set(1000000000L))
    // 1<->2 plus a dangling sink 3 (appears only as dst): closed-form
    // fixpoint pr1 = 0.2775e9/0.63875, pr2 = pr3 = 0.15e9 + 0.425*pr1
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    // tiny graphs mix slowly (contraction ~0.36/round through the
    // 2-cycle), so use a looser eps: 1e-4 of the base rank per node
    val (pr, curve, rounds) = ops.pagerank(g, "s", "d", epsPerNode = 100000L)
    assert(rounds === curve.length && rounds < 30)
    val byId = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet === Set(1L, 2L, 3L), "dst-only node 3 must get a rank")
    val exp1 = 277500000.0 / 0.63875
    val exp2 = 150000000.0 + 0.425 * exp1
    assert(math.abs(byId(1L) - exp1) < 1000000, s"pr1=${byId(1L)} exp=$exp1")
    assert(math.abs(byId(2L) - exp2) < 1000000, s"pr2=${byId(2L)} exp=$exp2")
    assert(byId(2L) === byId(3L), "3 receives the same contribution as 2")
    // movement decays overall (integer damping can plateau locally)
    assert(curve.last._2 < curve.head._2)
  }

  test("pagerank warm start re-converges no slower and near the same fixpoint") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    val (pr0, _, _) = ops.pagerank(base, "s", "d", epsPerNode = 100000L)
    // churn: the sink grows an out-edge back to 1
    val delta = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("s", "d")
    // this graph contracts slowly (~0.72/round: 1 -> {2,3} -> 1), so
    // give the FAILURE bound headroom; rounds stay data-driven
    val (cold, _, coldRounds) =
      ops.pagerank(delta, "s", "d", epsPerNode = 100000L, maxRounds = 80)
    val (warm, _, warmRounds) =
      ops.pagerank(delta, "s", "d", epsPerNode = 100000L, maxRounds = 80,
        init = Some(pr0))
    assert(warmRounds <= coldRounds,
      s"warm=$warmRounds cold=$coldRounds")
    val c = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    c.keySet.foreach { id =>
      assert(math.abs(c(id) - w(id)) <= 1000000L,
        s"id=$id cold=${c(id)} warm=${w(id)}")
    }
  }

  // one row per teleport: ops.pagerank against the oracle-gated
  // query that runs the same loop on the same graph
  Seq(
    ("personalized", Some((_: Column) % 97L === 0L): Option[Column => Column],
      "q186", "q186_personalized_pr"),
    ("uniform", None, "q175", "q175_pagerank_converge")
  ).foreach { case (teleport, personalizeTo, q, query) =>
    test(s"$teleport pagerank agrees with the oracle-gated $q pipeline") {
      val d01 = "/root/testdata/sf0.01"
      val (_, edges, _) = graft.queries.Curation.prGraphEdges(spark, d01)
      val (pr, curve, _) = ops.pagerank(edges, "src", "dst",
        epsPerNode = 1000L, maxRounds = 20, personalizeTo = personalizeTo)
      val out = SparkEntry.queries(query)(spark, d01)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // curves identical round for round
      val oracleCurve = out.filter(_._1 == "round").sortBy(_._2)
        .map(r => (r._2, r._3))
      assert(curve == oracleCurve.toSeq,
        s"api=$curve oracle=${oracleCurve.toSeq}")
      // top-20 ranks identical
      val apiTop = pr.orderBy(col("pr").desc, col("id")).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val oracleTop = out.filter(_._1 == "rank").sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(apiTop == oracleTop)
    }
  }

  test("pagerank's round stays exact when 85 * inbound mass passes 2^55") {
    val s = spark
    import s.implicits._
    // star: leaves 1..4 -> hub 0, warm-started at ~1e15 each, so the
    // hub's 85 * sc is ~3.4e17, past 2^55 where a double division
    // rounds; this init makes the double form read one unit low
    val leaves = (1L to 4L).map(i => i -> (1000000010000030L + (i - 1L) * 7919L))
    val edges = leaves.map { case (i, _) => (i, 0L) }.toDF("s", "d")
    val init = ((0L -> 1000000000L) +: leaves).toDF("id", "pr")
    val sc = leaves.map(_._2).sum
    assert(BigInt(85L) * sc > BigInt(2).pow(55))
    var hub1 = -1L
    val (pr, _, _) = ops.pagerank(edges, "s", "d", init = Some(init),
      probe = (r, st) => if (r == 1)
        hub1 = st.filter(col("id") === 0L).collect().head.getLong(1))
    assert(hub1 == 150000000L + 85L * sc / 100L, s"hub round 1 = $hub1")
    Ck.release(pr)
  }

  test("kmeansToConvergence agrees with the oracle-gated q163 pipeline") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, dir)
    val (assign, curve) = ops.kmeansToConvergence(emb, "vec_id",
      col("embedding"), col("label"))
    val census = assign.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), min(col("vec_id")).as("mn"))
      .select(lit("cell").as("part"), col("cell").cast("long").as("k"),
        col("cnt").as("v1"), col("mn").as("v2"))
    val api = census.unionByName(
      curve.map { case (r, mv, rs) => ("round", r, mv, rs) }
        .toDF("part", "k", "v1", "v2"))
    val q163 = SparkEntry.queries("q163_kmeans_converge")(spark, dir)
    assert(api.except(q163).count() === 0 && q163.except(api).count() === 0)
  }

  test("bigramSurprisal agrees with the oracle-gated q167 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.bigramSurprisal(docs, "doc_id", "text")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sum_sp_e4")).as("__s"),
        sum((col("sum_sp_e4") > col("n_bigrams") * 310000L).cast("long"))
          .as("n_high"))
      .withColumn("avg_sp4", // the queries' half-up 4-dp ratio idiom
        expr("(20000 * __s + n_bigrams) div (2 * n_bigrams)") / 10000.0)
      .select("lang", "n_docs", "n_bigrams", "avg_sp4", "n_high")
    val q167 = SparkEntry.queries("q167_bigram_surprisal")(spark, dir)
    assert(api.except(q167).count() === 0 && q167.except(api).count() === 0)
  }

  test("rankClassifierScore agrees with the oracle-gated q168 pipeline") {
    val docs = Tables.documents(spark, dir)
    val api = ops.rankClassifierScore(docs, "doc_id", "text",
        col("lang") === "en")
      .groupBy(col("source"), (col("lang") === "en").cast("long").as("actual_en"),
        col("pred_positive").cast("long").as("pred_en"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_rankdiff"),
        sum(col("n_toks")).as("n_tokens"))
    val q168 = SparkEntry.queries("q168_rank_classifier")(spark, dir)
    assert(api.except(q168).count() === 0 && q168.except(api).count() === 0)
  }

  test("wordpieceTokens agrees with the oracle-gated q169 pipeline") {
    val docs = Tables.documents(spark, dir)
    // per-word encode (the q169 census path) == per-doc flatten apply
    val api = ops.wordpieceTokens(docs, "text")
      .select(col("doc_id"), explode(col("tokens")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ_docs"))
    val q169 = SparkEntry.queries("q169_wordpiece_apply")(spark, dir)
      .select(col("token"), col("n_occ"))
    // q169 keeps top-25 by weighted count; the API must agree there
    val joined = q169.join(api, Seq("token"), "left")
    assert(joined.filter(col("n_occ") =!= col("n_occ_docs")).count() === 0)
    assert(joined.filter(col("n_occ_docs").isNull).count() === 0)
  }

  test("nearDupDedup keeps one survivor per transitive cluster, singletons untouched") {
    val s = spark
    import s.implicits._
    // docs 1/2/3 are a near-dup CHAIN (1~2 and 2~3 overlap; 1~3 may
    // not pair directly — the transitive closure must still merge
    // them); doc 9 is unrelated and must survive under every policy
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base + " one"),
      (2L, base + " one two"),
      (3L, base + " one two three"),
      (9L, "completely different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val keptMin = ops.nearDupDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(1L, 9L), keptMin.toString)
    val keptLong = ops.nearDupDedup(docs, "doc_id", "text",
        policy = "longest", lengthCol = Some("n_chars"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptLong == Set(3L, 9L), keptLong.toString)
    // schema passes through untouched
    assert(ops.nearDupDedup(docs, "doc_id", "text").columns.toSeq ==
      docs.columns.toSeq)
    // no pairs at an unreachable threshold -> corpus unchanged
    assert(ops.nearDupDedup(docs, "doc_id", "text", minJaccard = 0.999)
      .count() == 4L)
    intercept[IllegalArgumentException](
      ops.nearDupDedup(docs, "doc_id", "text", policy = "longest"))
  }

  test("nearDupDedup 'richest' keeps q189's max-distinct-words survivor") {
    val s = spark
    import s.implicits._
    // one near-dup cluster where the three policies pick three
    // DIFFERENT survivors: doc 3 is longest in chars but repetitive
    // (" one" x5 adds 11th distinct word only once), doc 2 has the
    // most distinct words (12), doc 1 the smallest id
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base + " one two"),
      (3L, base + " one one one one one"),
      (9L, "completely different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    def keptUnder(policy: String, len: Option[String] = None): Set[Long] =
      ops.nearDupDedup(docs, "doc_id", "text", policy = policy,
          lengthCol = len)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptUnder("min_id") == Set(1L, 9L))
    assert(keptUnder("longest", Some("n_chars")) == Set(3L, 9L))
    // q189's c_richest rule: (distinct-word count DESC, doc_id ASC)
    // over the SAME tokenizer — no lengthCol needed, computed
    // internally from the text column
    assert(keptUnder("richest") == Set(2L, 9L))
    // the broadcast opt-out (the at-scale co-partitioned anti-join)
    // must select identical survivors
    val noHint = ops.nearDupDedup(docs, "doc_id", "text",
        policy = "richest", broadcastDrops = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(noHint == Set(2L, 9L))
  }

  test("distinctSketch matches the oracle-gated q191 per-source estimates") {
    val docs = Tables.documents(spark, dir)
    val api = ops.distinctSketch(docs, "source", col("text"))
    val q191 = SparkEntry.queries("q191_distinct_sketch")(spark, dir)
      .filter(col("part") === "source")
      .select(col("grp").as("source"), col("n_est").as("q_est"))
    val joined = api.join(q191, Seq("source"), "full_outer")
    assert(joined.filter(col("n_est") =!= col("q_est")
      || col("n_est").isNull || col("q_est").isNull).count() === 0)
  }

  test("nearDupDedup removal count matches the q48 cluster arithmetic") {
    val docs = Tables.documents(spark, dir)
    val kept = ops.nearDupDedup(docs, "doc_id", "text").count()
    val cl = SparkEntry.queries("q48_dedup_clusters")(spark, dir)
    // kept = corpus - (clustered members - clusters): exactly one
    // survivor per cluster, everything unclustered untouched
    val members = cl.count()
    val clusters = cl.select("cluster").distinct().count()
    assert(kept == docs.count() - (members - clusters),
      s"kept=$kept members=$members clusters=$clusters")
  }

  test("rrfFuse sums fixed-point reciprocals and ranks a both-channel doc first") {
    val s = spark
    import s.implicits._
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("q", "doc", "r")
    val vec = Seq((1L, 30L, 1L), (1L, 40L, 2L)).toDF("q", "doc", "r")
    val out = ops.rrfFuse(Seq(lex, vec), k = 3)
      .orderBy("fused_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    def rec(r: Long) = 1000000000L / (60L + r)
    // doc 30 (rank 3 + rank 1) beats doc 10 (a single rank 1);
    // docs 20 and 40 tie on rec(2) — id breaks the tie
    assert(out.toSeq == Seq(
      (1, 30L, rec(3) + rec(1)),
      (2, 10L, rec(1)),
      (3, 20L, rec(2))), out.mkString(","))
    intercept[IllegalArgumentException](ops.rrfFuse(Seq.empty))
  }

  test("mmrRerank prefers a diverse pick over a redundant near-duplicate") {
    val s = spark
    import s.implicits._
    // doc 2 is a near-verbatim copy of doc 1 (sim x1e4 = 10000 after
    // rounding); doc 3 is moderately relevant but genuinely
    // different. Plain top-2 = (1, 2); MMR scores doc 2 at
    // rel - sim(2,1) = 9939 - 10000 = -61 against doc 3's
    // 6000 - 5963 = 37, so the second pick flips to doc 3.
    val corpus = Seq(
      (1L, Seq(0.9, 0.1, 0.0)),
      (2L, Seq(0.9, 0.1, 0.001)),
      (3L, Seq(0.6, 0.0, 0.8))).toDF("id", "vec")
    val queries = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("id", "vec")
    val out = ops.mmrRerank(corpus, queries, nCandidates = 3, k = 2)
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L), (2, 3L)), out.mkString(","))
    intercept[IllegalArgumentException](
      ops.mmrRerank(corpus, queries, nCandidates = 1, k = 2))
  }

  test("mmrRerank agrees with the oracle-gated q182 pipeline") {
    val d01 = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, d01)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") % 100 === 0)
    val api = ops.mmrRerank(e, q, nCandidates = 8, k = 3)
      .select(col("qid").as("q_id"), col("pos"), col("id").as("pick_id"),
        col("rel"), col("mmr2x"))
    val q182 = SparkEntry.queries("q182_mmr_rerank")(spark, d01)
    assert(api.except(q182).count() === 0 && q182.except(api).count() === 0)
  }

  // triangle {1,2,3} with a 2-hop tail 3-4-5: k=2 peels 5 (deg 1),
  // which exposes 4 (deg 1), then stabilizes — the cascade is the
  // point; a single-pass degree filter would leave 4 behind. The
  // extra rows must not change the core: a self-loop-only node is
  // absent, duplicate edges (either orientation) count once, and
  // caller columns named like the driver's own (node, nbr, deg)
  // survive the adapter's renames.
  private val kcoreBase = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
  Seq(
    ("", kcoreBase, ("a", "b")),
    ("a self-loop-only node", kcoreBase :+ ((9L, 9L)), ("a", "b")),
    ("duplicate edges", kcoreBase ++ Seq((3L, 4L), (5L, 4L)), ("a", "b")),
    ("columns named node/nbr", kcoreBase, ("node", "nbr")),
    ("columns named nbr/node", kcoreBase, ("nbr", "node")),
    ("columns named deg/node", kcoreBase, ("deg", "node"))
  ).foreach { case (input, rows, (src, dst)) =>
    val row = if (input.isEmpty) "" else s" ($input)"
    test(s"kcore peels a tail to nothing but keeps the triangle intact$row") {
      val s = spark
      import s.implicits._
      val edges = rows.toDF(src, dst)
      val (core, rounds) = ops.kcore(edges, src, dst, 2)
      assert(core.columns.toSeq == Seq("id", "core_degree"))
      val got = core.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (2L, 2L), (3L, 2L)), got.toString)
      assert(rounds == 3, s"rounds=$rounds") // peel, peel, stable-probe
      // k above the clique degree dissolves the graph: empty, not error
      val (gone, _) = ops.kcore(edges, src, dst, 3)
      assert(gone.isEmpty)
      intercept[IllegalArgumentException](ops.kcore(edges, src, dst, 0))
    }
  }

  test("kcore agrees with the oracle-gated q181 pipeline") {
    val d01 = "/root/testdata/sf0.01" // sf0.001's sparse graph dissolves
    val und = graft.queries.Mining.sparseUnd(spark, d01)
    val (core, rounds) = ops.kcore(und, "a", "b", 2)
    val api = core.groupBy(col("core_degree"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
      .withColumn("rounds", lit(rounds.toLong))
    val q181 = SparkEntry.queries("q181_kcore")(spark, d01)
    assert(api.except(q181).count() === 0 && q181.except(api).count() === 0)
  }

  test("modularityAudit matches hand-computed statistics; edgeless classes report zeros") {
    val s = spark
    import s.implicits._
    // two triangles joined by a bridge, plus a labeled isolated node:
    // m = 7; each triangle community: m_c = 3, d_c = 7
    //   -> contrib = 4*7*3 - 49 = 35; isolate: all zeros
    // Q = (35 + 35 + 0) / (4*49) ~ 0.357, the hand arithmetic
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L), (7L, 2L)).toDF("node", "lbl")
    val out = ops.modularityAudit(edges, "a", "b", labels, "node", "lbl")
      .orderBy("community").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 3L, 3L, 7L, 35L),
      (1L, 3L, 3L, 7L, 35L),
      (2L, 1L, 0L, 0L, 0L)), out.mkString(","))
  }

  test("modularityAudit agrees with the oracle-gated q180 pipeline") {
    val d01 = "/root/testdata/sf0.01"
    val labels = graft.queries.Mining.lpLoop(spark, d01, 1)
    val api = ops.modularityAudit(
      graft.queries.Mining.undGraph(spark, d01), "a", "b",
      labels, "node", "lbl")
    val q180 = SparkEntry.queries("q180_modularity")(spark, d01)
    assert(api.except(q180).count() === 0 && q180.except(api).count() === 0)
  }

  test("clusterByZOrder yields disjoint ordered z-ranges per partition") {
    val df = Tables.orders(spark, dir).select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("day"))
    val out = ops.clusterByZOrder(df, "cents", "day", 8)
    assert(out.count() === df.count()) // layout op: no row is lost
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange on z_key:\n$plan")
    // partition p's z range ends before partition p+1's begins — the
    // property parquet file-level min/max pruning needs from a writer
    val ranges = out.select(spark_partition_id().as("p"), col("z_key"))
      .groupBy("p").agg(min("z_key").as("lo"), max("z_key").as("hi"))
      .orderBy("p").collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          s"overlapping z ranges: $a vs $b")
      case _ => ()
    }
  }

  test("cusumChangepoint agrees with the oracle-gated q194 pipeline") {
    val ev = Tables.events(spark, dir)
    val got = ops.cusumChangepoint(ev, "event_type",
        Seq(col("ts"), col("event_id")), col("event_id"),
        round(col("value") * 100))
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q194_cusum_changepoint")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
    // and the locator actually finds a planted shift
    val s = spark
    import s.implicits._
    val planted = ((1 to 40).map(i => ("k", i.toLong, 100L)) ++
      (41 to 60).map(i => ("k", i.toLong, 900L))).toDF("g", "seq", "c")
    val row = ops.cusumChangepoint(planted, "g", Seq(col("seq")),
      col("seq"), col("c")).collect().head
    assert(row.getLong(2) == 40L, s"planted cut at 40, got $row")
    assert(row.getDouble(5) == 1.0 && row.getDouble(6) == 9.0,
      s"segment means wrong: $row")
  }

  test("assortativity agrees with q195 and scores hand graphs correctly") {
    val got = ops.assortativity(
      Tables.events(spark, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .crossJoin(broadcast(Tables.events(spark, dir)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .filter(col("k").isNotNull)
          .agg((max(col("user_id")) + 1L).as("n"))))
        .select(col("user_id").as("s"),
          ((col("user_id") * 31L + col("k")) % col("n")).as("d")),
      "s", "d").collect().head.toSeq
    val exp = SparkEntry.queries("q195_assortativity")(spark, dir)
      .collect().head.toSeq
    assert(got === exp)
    val s = spark
    import s.implicits._
    // star graph: hub degree n-1 vs leaf degree 1 — maximally
    // disassortative, r = -1 exactly
    val star = (1L to 6L).map(i => (0L, i)).toDF("u", "v")
    val r = ops.assortativity(star, "u", "v").collect().head
    assert(r.getDouble(6) == -1.0, s"star graph must score -1: $r")
    // 4-cycle: regular graph, zero degree variance -> NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val rc = ops.assortativity(cyc, "u", "v").collect().head
    assert(rc.isNullAt(6), s"regular graph must report NULL: $rc")
  }

  test("vocabGrowth agrees with q197; quantileSketch agrees with q200") {
    val docs = Tables.documents(spark, dir)
    val gotV = ops.vocabGrowth(docs, "source", col("doc_id"), col("text"))
      .collect().map(_.toSeq).toSeq
    val expV = SparkEntry.queries("q197_vocab_growth")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(gotV === expV)
    val ev = Tables.events(spark, dir)
    val gotQ = ops.quantileSketch(ev, "event_type", col("event_id"),
        round(col("value") * 100)).collect().map(_.toSeq).toSeq
    val expQ = SparkEntry.queries("q200_quantile_sketch")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(gotQ === expQ)
  }

  test("prefixJoinPairs agrees with q205 and respects a raised threshold") {
    val docs = Tables.documents(spark, dir)
    val got = ops.prefixJoinPairs(docs, "doc_id", col("text"))
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q205_prefix_join")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
    // a stricter tau returns exactly the subset above it
    val strict = ops.prefixJoinPairs(docs, "doc_id", col("text"), 9000L)
      .collect().map(_.toSeq).toSet
    assert(strict.subsetOf(got.toSet))
    assert(got.toSet.filter(r =>
      r(4).asInstanceOf[Long] >= 9000L) == strict)
  }

  test("containmentJoinPairs agrees with q211 and finds a planted quote") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, dir)
    val got = ops.containmentJoinPairs(docs, "doc_id", col("text"))
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q211_containment_join")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
    // a short doc planted inside a long one: containment finds the
    // directed pair Jaccard would score at ~0.2
    val quote = "alpha beta gamma delta epsilon zeta eta"
    val host = s"one two three four $quote five six seven eight nine " +
      "ten eleven twelve thirteen fourteen fifteen sixteen"
    val tiny = Seq((1L, quote), (2L, host)).toDF("doc_id", "text")
    val pairs = ops.containmentJoinPairs(tiny, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 10000L),
      s"planted quote not found: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p._1 == 2L && p._2 == 1L),
      "the host cannot be contained in the quote")
  }

  test("linkPredict scores the square's diagonals and matches q208") {
    val s = spark
    import s.implicits._
    // 4-cycle 0-1-2-3-0: both diagonals are non-edges with two
    // common neighbors and degree 2 everywhere — Jaccard exactly 1
    val square = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("s", "d")
    val got = ops.linkPredict(square, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(got.toSet == Set((0L, 2L, 2L, 10000L), (1L, 3L, 2L, 10000L)),
      got.mkString(","))
    // and the parameterized form reproduces q208 on its own graph
    val dir = "/root/testdata/sf0.001"
    val viaOps = ops.linkPredict(
      queries.Mining.sparseUnd(spark, dir), "a", "b").collect().toSeq
    val viaQuery = SparkEntry.queries("q208_link_predict")(spark, dir)
      .collect().toSeq
    assert(viaOps == viaQuery)
  }

  test("linkPredict caps hub-center wedge fan-out (planted hub)") {
    val s = spark
    import s.implicits._
    // planted hub 100 wired to leaves 0..39, plus a 4-cycle among
    // leaves 0-3 so the capped graph still has wedges of its own
    val edges = ((0L until 40L).map(i => (i, 100L)) ++
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))).toDF("a", "b")
    def candCount(cap: Long): Long = {
      var n = -1L
      queries.Mining.linkPredictPairs(edges, 1000, cap,
        candHook = c => { n = c.count(); c }).count()
      n
    }
    // uncapped: EVERY non-adjacent leaf pair is a candidate through
    // the hub — C(40,2) minus the 4 ring edges = 776. The quadratic
    // blow-up the cap exists to stop, reproduced in miniature.
    assert(candCount(4096L) == 776L)
    // cap 16 drops the hub (deg 40) from wedge enumeration; only the
    // ring's two diagonals remain — bounded by Σ_{deg<=cap} deg²
    assert(candCount(16L) == 2L)
    val capped = ops.linkPredict(edges, "a", "b", k = 10, maxCenterDeg = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // Jaccard denominators still use TRUE degrees (ring nodes: 3 =
    // hub + two ring neighbors) even though the hub left enumeration
    assert(capped.toSet == Set((0L, 2L, 2L, 3L, 3L), (1L, 3L, 2L, 3L, 3L)),
      capped.mkString(","))
  }

  test("stationaryDistribution solves a hand chain and matches q215") {
    val s = spark
    import s.implicits._
    // a->b always; b->a 1/3, b->b 2/3: exact stationary (1/4, 3/4)
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "b"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "a"), (2L, 4L, "b"))
      .toDF("k", "t", "st")
    val got = ops.stationaryDistribution(ev, "k", Seq(col("t")), col("st"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") >= 240000L && got("a") <= 260000L, got.toString)
    assert(got("b") >= 740000L && got("b") <= 760000L, got.toString)
    val dir = "/root/testdata/sf0.001"
    val viaOps = ops.stationaryDistribution(Tables.events(spark, dir),
        "user_id", Seq(col("ts"), col("event_id")), col("event_type"))
      .collect().map(_.toSeq.drop(0)).toSeq
    val viaQuery = SparkEntry.queries("q215_stationary_dist")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaOps == viaQuery)
    // the driver-collect envelope is LOUD: a state column whose
    // observed (prev, state) cell count exceeds maxCells must refuse
    // to collect a matrix onto the driver, not silently try (k is
    // the state-ALPHABET size by contract, never the row count)
    val wide = s.range(40L).select(col("id").as("t"),
      lit(1L).as("k"), concat(lit("s"), col("id")).as("st"))
    val ex = intercept[IllegalArgumentException] {
      ops.stationaryDistribution(wide, "k", Seq(col("t")), col("st"),
        maxCells = 10L)
    }
    assert(ex.getMessage.contains("transition"), ex.getMessage)
  }

  test("diameterSweep is exact on a path and picks the largest component") {
    val s = spark
    import s.implicits._
    // a 5-node path (diameter 4) plus a disjoint triangle: the sweep
    // must pick the path (larger), seed at its min id, and be exact
    // (2-sweep is exact on trees)
    val g = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 10L))).toDF("s", "d")
    val row = ops.diameterSweep(g, "s", "d").collect().head
    assert(row.getLong(0) == 0L && row.getLong(1) == 5L) // component, n
    assert(row.getLong(2) == 0L && row.getLong(3) == 4L) // seed, ecc
    assert(row.getLong(4) == 4L && row.getLong(5) == 4L) // far, diameter
    // and the parameterized form reproduces q216 on its own graph
    val dir = "/root/testdata/sf0.001"
    val viaOps = ops.diameterSweep(
      queries.Mining.sparseUnd(spark, dir), "a", "b").collect().toSeq
    val viaQuery = SparkEntry.queries("q216_diameter_sweep")(spark, dir)
      .collect().toSeq
    assert(viaOps == viaQuery, s"ops=$viaOps q216=$viaQuery")
  }

  test("diameterSweep is exact AT the maxHops bound and loud past it") {
    val s = spark
    import s.implicits._
    // diameter-4 path with maxHops = 4: the engine budgets one extra
    // hop for the empty exhaustion round, so ecc == maxHops sweeps
    // exactly (the oracle-cap sync — its recursion reaches d <= cap)
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val row = ops.diameterSweep(g, "s", "d", maxHops = 4).collect().head
    assert(row.getLong(3) == 4L && row.getLong(5) == 4L, row.toString)
    // one short of the eccentricity: loud failure, never a silent
    // under-report (the oracle side would truncate silently)
    val err = intercept[IllegalArgumentException] {
      ops.diameterSweep(g, "s", "d", maxHops = 3).collect()
    }
    assert(err.getMessage.contains("not exhausted"), err.getMessage)
  }

  test("hits scores a hub-and-spoke graph with the roles separated") {
    val s = spark
    import s.implicits._
    // star out-edges: 0 -> {1..5}: node 0 is the pure hub (it links
    // everything), 1..5 are pure authorities
    val star = (1L to 5L).map(i => (0L, i)).toDF("s", "d")
    val got = ops.hits(star, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val hub = got.find(_._1 == 0L).get
    assert(hub._2 == 0L && hub._3 == 10000L, s"hub role: $hub")
    (1L to 5L).foreach { i =>
      val n = got.find(_._1 == i).get
      assert(n._2 == 10000L && n._3 == 0L, s"authority role: $n")
    }
  }

  test("scc separates one-way bridged cycles that undirected CC merges") {
    val s = spark
    import s.implicits._
    // two cycles + a one-way bridge + a dangling tail: SCC must
    // yield {0,1,2}, {4,5,6}, {7}; undirected CC sees ONE component
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("s", "d")
    val got = ops.scc(g, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L), got.toString)
    val cc = ops.connectedComponents(g, "s", "d")._1.collect()
      .map(_.getLong(1)).distinct
    assert(cc.length == 1, "the undirected view must merge everything")
  }

  test("dagLayers stratifies a hand-built digraph and matches q202 on testdata") {
    val s = spark
    import s.implicits._
    // cycle {0,1,2} -> 3 -> cycle {4,5} -> 6; plus isolated edge 7->8
    // condensation chain: [012] -> [3] -> [45] -> [6], [7] -> [8]
    // levels: [012]=0,[7]=0; [3]=1,[8]=1; [45]=2; [6]=3
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L), (7L, 8L)).toDF("s", "d")
    val got = ops.dagLayers(g, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 4L, 2L), // [012] (1 out) + [7] (1 out)
      (1L, 2L, 2L, 1L), // [3] (1 out) + [8] (0 out)
      (2L, 1L, 2L, 1L), // [45]
      (3L, 1L, 1L, 0L)), // [6]
      got.mkString(", "))
    // and the parameterized form reproduces q202 on its own edges
    val dir = "/root/testdata/sf0.001"
    val viaOps = ops.dagLayers(
      queries.Mining.dirEdges(spark, dir), "src", "dst").collect().toSeq
    val viaQuery = SparkEntry.queries("q202_condensation_dag")(spark, dir)
      .collect().toSeq
    assert(viaOps == viaQuery, s"ops=$viaOps q202=$viaQuery")
  }

  test("ivfAssign picks the nearest frozen centroid with (d2, label) tiebreak") {
    val s = spark
    import s.implicits._
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)))
      .toDF("label", "c")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(9.0, 0.0)),
      (3L, Seq(5.0, 0.0))).toDF("vec_id", "embedding")
    val got = ops.ivfAssign(vecs, cents, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    // hand arithmetic: |(1,0)-(0,0)|^2 = 1 -> cell 0; |(9,0)-(10,0)|^2
    // = 1 -> cell 1; (5,0) is d2 = 25 from BOTH -> label tiebreak 0
    assert(got == Map(1L -> (0, 1.0), 2L -> (1, 1.0), 3L -> (0, 25.0)),
      got.toString)
  }
}
