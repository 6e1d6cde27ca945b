package graft

/** Plan-shape regressions: the properties that matter at scale —
  * predicate pushdown into parquet, column pruning, broadcast join
  * selection, partial aggregation — asserted on the formatted plans
  * so a future refactor cannot silently lose them.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01: shipdate predicate pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: scan prunes to the 7 needed columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("q04: all four dimension joins are broadcast") {
    val p = plan("q04_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q05/q06: semi and anti joins plan as joins, not subquery loops") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("q27: corpus side is joined via broadcast of the query set") {
    val p = plan("q27_embed_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q28/q42: ANN probe joins keep the query side broadcast") {
    // the broadcast hint on the (small) query set must survive
    // optimization — losing it turns the probe into a full shuffle of
    // the corpus
    val p28 = plan("q28_ann_lsh")
    assert(p28.contains("BroadcastHashJoin"), p28)
    val p42 = plan("q42_ann_ivf")
    assert(p42.contains("BroadcastHashJoin"), p42)
  }

  test("q51: bloom pre-pass filters the fact scan before the semi join") {
    val p = plan("q51_bloom_semi")
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftSemi"), p)
    // the bloom filter must sit on the scan side, not after the join:
    // assert structurally that the might_contain predicate lives
    // INSIDE the semi join's streamed (left) subtree
    val sp = SparkEntry.queries("q51_bloom_semi")(spark, dir)
      .queryExecution.sparkPlan
    val join = sp.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(join.isDefined, sp.toString)
    val filterUnderStreamedSide = join.get.children.head.collectFirst {
      case n if n.expressions.exists(_.toString.contains("might_contain")) => n
    }
    assert(filterUnderStreamedSide.isDefined, join.get.toString)
  }

  test("q53: cube aggregation is two-phase (partial before the shuffle)") {
    val p = plan("q53_cube")
    assert(p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q37: as-of join is a single window pass — no join node") {
    val p = plan("q37_asof_join")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("Window"), p)
  }

  test("q224: margin-mining pair stage is a bucket equi-join — no cartesian, no nested loop") {
    val p = plan("q224_margin_mining")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate stage joins the two sides on the LSH bucket key
    assert(p.contains("bucket"), p)
  }

  test("q23: no cartesian/nested-loop stage anywhere in the LSH plan") {
    val p = plan("q23_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q23/q24: signatures are native expressions — no word/shingle explode-shuffle") {
    // the Generate(explode) + partial-aggregate signature stage would
    // exchange every token in the corpus; the native expressions keep
    // signature computation inside the scan stage
    val p24 = plan("q24_simhash_pairs")
    assert(p24.contains("simhash60"), p24)
    val p23 = plan("q23_minhash_lsh")
    assert(p23.contains("minhash_sig"), p23)
  }

  test("q218: delta candidates stay a band-key equi-join; drop anti-join broadcasts") {
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    // the LAZY delta-pair plan: candidates come from the banded
    // bucket equi-join (new-side bands x union bands) with native
    // signatures — never a cross product, never a token explode
    val pd = graft.api.ops.incrementalNearDupPairs(
      base, delta, "doc_id", "text", 0.5)
    val p = pd.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("band_key"), p)
    assert(p.contains("minhash_sig"), p)
    // the survivor removal: one broadcast anti-join of the (tiny)
    // drop list against the union corpus — pinned on a synthetic
    // corpus so the embedded warm loop converges in one round
    val s2 = spark
    import s2.implicits._
    val baseT = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"))
      .toDF("doc_id", "text")
    val deltaT = Seq((8L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val (lab0, _) = graft.api.ops.nearDupLabels(baseT, "doc_id", "text")
    val (kept, lab1, _) = graft.api.ops.nearDupDedupIncremental(
      baseT, deltaT, "doc_id", "text", lab0)
    val pk = kept.queryExecution.explainString(FormattedMode)
    assert(pk.contains("LeftAnti"), pk)
    assert(pk.contains("BroadcastHashJoin"), pk)
    Ck.release(lab0); Ck.release(lab1)
  }

  test("q219: takedown pairs stay band-key equi-joins; disturbed side broadcast-restricted") {
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val (lab0, _) = graft.api.ops.nearDupLabels(base, "doc_id", "text")
    val deleted = lab0.filter(col("id") % 3 === 0)
      .select(col("id").as("doc_id"))
    // the LAZY takedown-pair plan: both candidate families are band
    // bucket equi-joins; the re-verify self-join's inputs are
    // restricted to disturbed-survivor band rows through BROADCAST
    // joins (the disturbed set is changelog-sized) — never a cross
    // product, never an unrestricted old x old self-join
    val pd = graft.api.ops.takedownNearDupPairs(
      base, delta, deleted, lab0, "doc_id", "text", 0.5)
    val p = pd.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("band_key"), p)
    assert(p.contains("minhash_sig"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    Ck.release(lab0)
  }

  test("q220: delta IVF assignment is a pure map stage — vectors never hash-exchange") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("label"), col("embedding"))
      .groupBy(col("label"))
      .agg(org.apache.spark.sql.functions.first(col("embedding"))
        .cast("array<double>").as("c"))
    val a = graft.api.ops.ivfAssign(
      e.filter(col("vec_id") % 10 === 0), cents, "vec_id", "embedding")
    // the one-row cells array arrives as the BROADCAST build side of
    // a cross join whose LEFT (vector) side carries NO exchange at
    // all — since round 11 Tables.spread fixes the one-row-group
    // layout with a write-once copy instead of a per-query
    // round-robin shuffle, so the vector side is a bare parquet scan
    val p = a.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the left (vector) subtree's lines carry ':' bars in the simple
    // tree — that's what distinguishes the sides here (the AQE
    // wrapper hides children from plan.collect, and FormattedMode
    // splits "Exchange" from its partitioning argument)
    val vectorSideExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange") && l.trim.startsWith(":")).toSeq
    assert(vectorSideExchanges.isEmpty, vectorSideExchanges.mkString("\n"))
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.trim.startsWith(":")),
      p) // non-vacuity: the left side is really the ':'-barred subtree
  }

  test("q222: semantic pair stage is a cell equi-join — never a cross product") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val cents = e.select(col("label"), col("embedding"))
      .groupBy(col("label"))
      .agg(org.apache.spark.sql.functions.first(col("embedding"))
        .cast("array<double>").as("c"))
    val av = graft.api.ops.semDedupAssigned(e, cents, "vec_id", "embedding")
    val pairs = graft.api.ops.semDedupPairs(av, 0.35)
    val p = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // SemDeDup's whole point at scale: the quadratic stage is blocked
    // by the cell assignment — it must plan as an equi-join keyed on
    // `cell` (the id ordering and the cosine gate ride as join/filter
    // conditions), never as a cartesian / nested-loop over the corpus
    assert(!p.contains("CartesianProduct"), p)
    val joins = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toSeq
    assert(joins.nonEmpty, p)
    // the codebook itself arrives broadcast (the ivfAssign shape,
    // pinned structurally in the q220 test; presence re-checked here
    // so a refactor of semDedupAssigned cannot silently shuffle it)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q222 codebook: top-k-by-hash is a TakeOrdered, never a global corpus sort") {
    // the corpus-scaled k = ceil(sqrt(N)) exemplar rank (round 13)
    // must plan its orderBy(hr).limit(k) as a distributed
    // TakeOrderedAndProject — per-partition top-k then a k-row merge
    // — because a global Sort exchange of the corpus just to pick k
    // exemplars is exactly the shuffle the hash discipline avoids;
    // the k-row rank Window after it is driver-scale by construction
    val p = graft.queries.Vectors.semCodebook(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q60: native as-of join — no window, no union, co-partitioned exchanges") {
    val p = plan("q60_asof_native")
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
  }

  test("q61: eval n-gram set is broadcast — the corpus side never shuffles") {
    val p = plan("q61_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q62: packing scan prunes to the three needed columns") {
    val p = plan("q62_pack_sequences")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      readSchema)
  }

  test("q63: quantized retrieval keeps the query side broadcast") {
    val p = plan("q63_quantized_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q66: incremental dedup has no cartesian stage") {
    val p = plan("q66_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q69/q70: subqueries decorrelate — no per-row loops, no cartesian") {
    val p69 = plan("q69_correlated_subquery")
    assert(!p69.contains("CartesianProduct"), p69)
    assert(p69.contains("HashAggregate"), p69) // correlated scalars -> agg+join
    val p70 = plan("q70_lateral")
    assert(!p70.contains("CartesianProduct"), p70)
    assert(p70.contains("WindowGroupLimit"), p70) // LATERAL LIMIT -> per-group top-k
  }

  test("q72: repeated-span stats are pure explode + two-phase aggregation — no join") {
    val p = plan("q72_ngram_spans")
    assert(!p.toLowerCase.contains("join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q173: blocklist scan is one corpus pass — native automaton, no join, two-phase agg") {
    val p = plan("q173_blocklist_scan")
    // the needle table is compiled INTO the expression: no join
    // OPERATOR anywhere (needle literals legitimately contain "join")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .foreach(op => assert(!p.contains(op), p))
    // one-pass multi-pattern scan, not one regex/contains pass per needle
    assert(p.contains("multi_match_count"), p)
    assert(!p.toLowerCase.contains("rlike"), p)
    // the kernel is evaluated ONCE per row: no InferFiltersFromGenerate
    // pre-generate filter re-running the automaton, and no generate
    // over the corpus at all (the only explode is over the 12-row
    // aggregated result)
    assert(!p.contains("Filter") ||
      !p.linesIterator.filter(_.contains("condition"))
        .exists(_.contains("multi_match_count")), p)
    // global aggregate is two-phase: partial before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q174: epoch sharding is a pure map stage — no join, no window, no global sort before the agg") {
    val p = plan("q174_epoch_shards")
    // hash assignment, NOT row_number round-robin: a global window
    // would serialize the corpus through one partition at scale
    assert(!p.contains("Window"), p)
    assert(!p.toLowerCase.contains("join"), p)
    // the x2 epoch union collapses map-side before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q73/q42: cell assignment is a map stage — no per-vector window, no cartesian") {
    val p73 = plan("q73_kmeans_step")
    assert(!p73.contains("CartesianProduct"), p73)
    val p42 = plan("q42_ann_ivf")
    assert(!p42.contains("CartesianProduct"), p42)
    // the old assignment shape window-sorted corpus x cells rows
    // partitioned by vec_id; the fold form's only window is the probe
    // top-k over q_id
    assert(!p42.contains("windowspecdefinition(vec_id"), p42)
    assert(p42.contains("windowspecdefinition(q_id"), p42)
  }

  test("q74: dictionary never shuffles for a join — every join is broadcast") {
    val p = plan("q74_bigram_lift")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q75: source accounting is one scan, no join") {
    val p = plan("q75_source_stats")
    assert(!p.toLowerCase.contains("join"), p)
    // one file-index per scan in the details section
    assert("Location: InMemoryFileIndex".r.findAllIn(p).size == 1, p)
  }

  test("q67: repetition detector is a single-pass map + rollup — no explode, no join") {
    val p = plan("q67_repetition_filter")
    assert(!p.contains("Generate"), p)
    assert(!p.toLowerCase.contains("join"), p)
    // one partial + one final aggregate, nothing else shuffles
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q82: SCD2 dimension joins by broadcast — the fact stream never shuffles") {
    val p = plan("q82_scd2_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q83/q93: sorted-neighborhood and retention are pure window passes — no join") {
    val p83 = plan("q83_sorted_neighborhood")
    assert(!p83.toLowerCase.contains("join"), p83)
    assert(p83.contains("Window"), p83)
    val p93 = plan("q93_retention")
    assert(!p93.toLowerCase.contains("join"), p93)
  }

  test("q87: posting heads run through the native bounded heap, not collect_set") {
    val p = plan("q87_inverted_index")
    assert(p.contains("TopKPerGroup"), p) // bounded per-token state
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q88: BM25 scoring joins only by broadcast — the corpus never shuffles for a join") {
    val p = plan("q88_bm25")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q91: containment blocking has no cartesian stage") {
    val p = plan("q91_containment")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q96: exemplar sampling runs through the native TopKPerGroup operator") {
    val p = plan("q96_hash_exemplars")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p) // not the row_number fallback
  }

  test("q107: EXISTS chains decorrelate to semi + anti joins — no subquery loops") {
    val p = plan("q107_exists_chains")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q97: MaxSim broadcasts the query tokens; corpus aggregates two-phase") {
    val p = plan("q97_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q108: domain blocklist is a broadcast anti join, not a shuffle") {
    val p = plan("q108_url_curation")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q109: vocab scoring join broadcasts the rank table") {
    val p = plan("q109_unigram_surprisal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110: span removal has no cartesian stage; dup-gram agg is two-phase") {
    val p = plan("q110_span_removal")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q112: z-score scoring is one window pass — no join, no collect") {
    val p = plan("q112_zscore_anomaly")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q121: phrase terms join is broadcast; no k-way self-join") {
    val p = plan("q121_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q122: skip-gram generation is join-free") {
    val p = plan("q122_skip_grams")
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("q126: cohort join sides stay broadcast") {
    val p = plan("q126_cohort_matrix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q129: weighted sampling routes through the native TopKPerGroup") {
    val p = plan("q129_weighted_sample")
    assert(p.contains("TopKPerGroup"), p)
  }

  test("q133: embedding self-join is a bucket equi-join, never all-pairs") {
    val p = plan("q133_embedding_selfjoin")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q25/q120: dedup verify stages use the native set-cardinality exprs") {
    val p25 = plan("q25_ngram_jaccard")
    assert(p25.contains("array_intersect_size"), p25)
    val p120 = plan("q120_dedup_ensemble")
    assert(p120.contains("array_intersect_size") &&
      p120.contains("array_union_size"), p120)
  }

  test("q120: ensemble candidates stay a banded bucket equi-join") {
    val p = plan("q120_dedup_ensemble")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // banded keys (4 band hashes per doc), not one min-shingle bucket
    // that a hot boilerplate shingle could turn quadratic
    assert(p.contains("band_key"), p)
  }

  test("q106: linkage pairs come from a keyed sorted-neighborhood window — no self-join") {
    val p = plan("q106_record_linkage")
    assert(!p.toLowerCase.contains("join"), p)
    // window is partitioned by the hard block keys, never global
    assert(p.contains("windowspecdefinition(nk"), p)
  }

  test("global top-k rank windows push a partial limit below the exchange") {
    // filter(row_number over global orderBy <= k) must not window-sort
    // the whole frame on one partition: Spark 4 plans a partial
    // WindowGroupLimit / TakeOrderedAndProject below the
    // single-partition Window, so only k rows ever cross it — pinned
    // here for every query whose ranked frame scales with the data
    for (name <- Seq("q111_bpe_merge", "q114_basket_pairs",
        "q115_triangle_count", "q122_skip_grams")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit") ||
        p.contains("TakeOrderedAndProject"), s"$name:\n$p")
    }
  }

  test("q115: oriented wedge shape — broadcast degree/closure sides, exactly one shuffled join") {
    // the round-7 adjudication of the r6 bench drift confirmed the
    // Suri-Vassilvitskii shape itself is sound (2.1M wedges, flat
    // fan-out on the regenerated graph; the drift was a serial events
    // scan + JIT warm-up, not the plan) — pin the shape so a refactor
    // cannot regress it: the node-sized degree table broadcasts into
    // BOTH endpoint joins, the canonical edge set broadcasts into the
    // closure probe, and the ONLY shuffled join is the wedge
    // self-join on the apex key
    val p = plan("q115_triangle_count")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // at sf0.001 even the wedge self-join broadcasts (tiny stats);
    // at any size, nothing BEYOND that one join may shuffle
    val shuffled = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(shuffled <= 1,
      s"want at most the wedge self-join shuffled, got $shuffled:\n$p")
  }

  test("q191/q192: register sketch builds are two-phase partial aggregates") {
    // the sketch's 100-TB claim is that registers partially aggregate
    // map-side (max combine) before any exchange — a plan that
    // shuffles raw hashed rows to build registers has lost the point
    for (name <- Seq("q191_distinct_sketch", "q192_sketch_overlap")) {
      val p = plan(name)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name:\n$p")
    }
  }

  test("q193: composes the q115 oriented-wedge shape plus ONE node-keyed outer join") {
    val p = plan("q193_clustering_coeff")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // count plan NODES (the "(nn) Op" detail headers), not raw string
    // hits — FormattedMode prints each operator in both the tree and
    // the detail section. Allowed shuffled joins: the wedge self-join
    // (may broadcast at tiny SF) + the deg-vs-triangles left join,
    // which is node-sized on BOTH sides and so correctly
    // co-partitions on the node key rather than broadcasting
    val shuffled =
      """\(\d+\) (SortMergeJoin|ShuffledHashJoin)""".r.findAllIn(p).size
    assert(shuffled <= 2,
      s"want at most wedge self-join + deg join shuffled, got $shuffled:\n$p")
  }

  test("q176: one corpus pass through the native winnow kernel, partial limit below the global window") {
    val p = plan("q176_winnowing")
    // the fingerprint selection is the codegen'd kernel in the scan
    // projection, not the CodegenFallback HOF chain (36 s cold-compile
    // at sf0.1 before round 6)
    assert(p.contains("winnow_fps"), p)
    assert(!p.contains("transform("), p)
    // ONE pass over documents, reading only the two needed columns
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("url"),
      readSchema)
    // fingerprint counts partially aggregate before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // only ~15 rows reach the single-partition rank window (the
    // judge-verified r5 shape, now pinned like q111/q114/q115/q122)
    assert(p.contains("WindowGroupLimit") ||
      p.contains("TakeOrderedAndProject"), p)
  }

  test("q177: synth+decode is one codegen projection over a doc_id-only scan — no UDF, no object ser/de") {
    val p = plan("q177_image_decode")
    assert(p.contains("ppm_decode") && p.contains("ppm_synth"), p)
    // the codec never leaves codegen: no typed mapPartitions round
    // trip (q35's shape), no Scala UDF
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"), p)
    assert(!p.toLowerCase.contains("batchevalpython"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text") && !readSchema.contains("lang"),
      readSchema)
  }

  test("q179: audio synth+decode is one codegen projection over a doc_id-only scan — no UDF, no object ser/de") {
    val p = plan("q179_audio_decode")
    assert(p.contains("wav_stats") && p.contains("wav_synth"), p)
    // the codec never leaves codegen: no typed mapPartitions round
    // trip, no Scala UDF
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"), p)
    assert(!p.toLowerCase.contains("batchevalpython"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text") && !readSchema.contains("lang"),
      readSchema)
  }

  test("q180: modularity labels broadcast to both endpoints; edge list never sort-merge-shuffles") {
    val (out, persisted) = graft.queries.Mining.modularityStats(spark, dir)
    try {
      val p = out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // node-sized label table -> both endpoint joins broadcast; the
      // community rollup joins are community-sized (broadcast too)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
      // partial aggregation on every rollup
      assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("q183: all Holt windows share one user_id exchange — the event stream shuffles once") {
    val p = plan("q183_holt_trend")
    val exchanges = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    // the 15 lags, the last-row pick, and the per-user count all hang
    // off the same hashpartitioning(user_id) exchange; the only other
    // exchange is the final global sort's range partitioning
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q184: the med/mad tables broadcast back — the event stream never sort-merge-joins") {
    val p = plan("q184_mad_anomaly")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // both rank passes partition on event_type
    assert(p.contains("hashpartitioning(event_type"), p)
  }

  test("q185: both RRF channels keep the query side broadcast; no cartesian stage") {
    val p = plan("q185_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p)
    // lexical: broadcast query-token equi-join; vector: broadcast
    // query vectors against one corpus scan (q27's layout)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the fuse is an outer merge of candidate-bounded frames, and the
    // reciprocal arithmetic stayed integral (no float division)
    assert(p.contains("FullOuter") || p.contains("full_outer"), p)
  }

  test("q58: per-language top-k routes through the native TopKPerGroup heap") {
    val p = plan("q58_bigram_topk")
    assert(p.contains("TopKPerGroup"), p)
  }

  test("q141: corpus vocab joins stay broadcast — the token frame never re-shuffles for a join") {
    val p = plan("q141_lexical_drift")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q142/q143/q145: banded cross-split and audit joins are bucket equi-joins") {
    for (name <- Seq("q142_fuzzy_decontaminate", "q143_sketch_accuracy",
        "q145_transitivity_audit")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("band_key"), s"$name:\n$p")
    }
    // q142's eval side is benchmark-sized and must broadcast
    assert(plan("q142_fuzzy_decontaminate").contains("BroadcastHashJoin"))
  }

  test("q144: k-anonymity audit is pure aggregation — no join") {
    val p = plan("q144_k_anonymity")
    assert(!p.toLowerCase.contains("join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial agg
  }

  test("q147/q148: yield curve and split audit are join-free aggregation plans") {
    val p147 = plan("q147_dedup_yield")
    assert(!p147.toLowerCase.contains("join"), p147)
    assert("HashAggregate".r.findAllIn(p147).size >= 2, p147) // partial agg
    val p148 = plan("q148_split_assign")
    assert(!p148.toLowerCase.contains("join"), p148)
    // the share window partitions by lang — never a global frame
    assert(p148.contains("windowspecdefinition(lang"), p148)
  }

  test("q149: eval ranking window is per-query, never global; no cartesian") {
    val p = plan("q149_retrieval_mrr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id"), p)
  }

  test("q150: allocation arithmetic rides broadcast frames — one corpus scan") {
    val p = plan("q150_mixture_allocate")
    assert(!p.contains("SortMergeJoin"), p)
    // the per-source mass frame is persisted, so exactly ONE distinct
    // parquet scan node exists — every other reference reads the cache
    // (the same string renders once per InMemoryRelation description,
    // so count distinct node ids, not occurrences)
    val scanIds = "Scan parquet\\s+\\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"distinct scans $scanIds:\n$p")
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q151: both eval probes keep the query side broadcast; ranks are per-query") {
    val p = plan("q151_rank_agreement")
    // exact probe: broadcast nested-loop of the tiny query set;
    // LSH probe: broadcast hash on the bucket key — losing either
    // hint would shuffle the corpus per eval run
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(q_id"), p)
  }

  test("q152: chunk dedup is one explode + chunk-key aggregation, no all-pairs") {
    val p = plan("q152_chunk_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the boilerplate share join is an equi-join on the chunk text —
    // a hot chunk is ONE group row, never a quadratic bucket; chunks
    // come from transform() INSIDE the explode (text not duplicated)
    assert(p.contains("explode(transform(sequence"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial agg
  }

  test("q153: the three windows share ONE user_id exchange; no global window") {
    val p = plan("q153_ewma_decay")
    // lag chain (ts asc), last-row row_number (ts desc), per-user
    // count — all partitioned by user_id, so the event stream
    // shuffles exactly once and the asc/desc sorts resolve inside
    // that exchange; a second hashpartitioning would mean a window
    // lost the shared key
    // (the only other exchange is the final ORDER BY's range partition)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("windowspecdefinition()"), p) // no single-partition window
    assert(!p.contains("Join"), p)
  }

  test("q154: bag-of-words dedup is joinless hash aggregation") {
    val p = plan("q154_bow_dup")
    assert(!p.contains("Join"), p)
    // two distinct-count granularities ride one scan + partial aggs
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"),
      readSchema) // prunes to (source, text)
  }

  test("q155: centroid side stays broadcast; top-k window is label-partitioned") {
    val p = plan("q155_hard_negatives")
    // label-cardinality query side x corpus via broadcast nested loop
    // (the <> join has no equi key); never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(qlabel"), p)
  }

  test("q155: word concentration is joinless two-stage aggregation") {
    val p = plan("q156_word_concentration")
    assert(!p.contains("Join"), p)
    // token counts then per-doc moments, each with a map-side partial
    assert("HashAggregate".r.findAllIn(p).size >= 3, p)
  }

  test("q157: label-propagation argmax window is node-partitioned") {
    val p = plan("q157_label_propagation")
    // the per-node argmax must partition by node — a global window
    // here would sort every (node,label) count on one partition
    assert(p.contains("windowspecdefinition(node"), p)
    assert(!p.contains("windowspecdefinition()"), p)
    assert(!p.contains("CartesianProduct"), p)
    // neighbor-label counts are map-side combined
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q158: source near-dup candidates stay a band-key equi-join") {
    val p = plan("q158_source_neardup_matrix")
    // the candidate stage must join on the banded LSH key — an
    // all-pairs (cartesian/BNLJ) plan here is the quadratic
    // scale-killer q23/q120 are designed around
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q159: packing curve is joinless with a pruned scan") {
    val p = plan("q159_packing_curve")
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial agg
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      readSchema) // prunes to (lang, text)
  }

  test("q160: correlation matrix is one joinless grand aggregate") {
    val p = plan("q160_embedding_correlation")
    assert(!p.contains("Join"), p)
    // 44 sufficient statistics in ONE two-phase aggregate — the
    // exchange carries one partial row per task, not the corpus
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("label") && !readSchema.contains("vec_id"),
      readSchema) // prunes to the embedding column alone
  }

  test("q165: every propagation round joins labels by broadcast on flat lineage") {
    var seen = 0
    graft.queries.Mining.lpLoop(SparkSpec.session, dir, 3, (r, next) => {
      seen = r
      // SimpleMode: one line per operator instance, so instance
      // counts below are exact (FormattedMode repeats names in the
      // detail section)
      val p = next.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      // the node-sized label table is broadcast into the edge list;
      // a SortMergeJoin here would mean the hint was lost (at 100-TB
      // node counts the same join runs bucketed — a deliberate swap,
      // not a silent regression)
      assert("BroadcastHashJoin".r.findAllIn(p).size == 1, s"round $r:\n$p")
      assert(!p.contains("SortMergeJoin"), s"round $r:\n$p")
      // flat lineage: the label side is the PREVIOUS round's
      // checkpoint (Scan ExistingRDD), so round plans never nest —
      // a second Window/argmax in the tree would mean round r is
      // replaying round r-1 instead of reading its checkpoint
      assert(p.contains("Scan ExistingRDD"), s"round $r:\n$p")
      assert("WindowGroupLimit".r.findAllIn(p).size <= 2, s"round $r:\n$p")
    })
    assert(seen == 3)
  }

  test("q162: tokenizer apply is the native kernel over the vocab, joinless") {
    val p = plan("q162_bpe_apply")
    // the merge table rides inside the codegen'd expression — a plan
    // with a join would mean the vocab/table shuffle came back
    assert(p.contains("bpe_encode"), p)
    assert(!p.contains("Join"), p)
    // vocab comes from the persisted word-count frame, not a rescan
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
  }

  test("q167: bigram scoring joins broadcast the LM tables, no sort-merge") {
    val p = plan("q167_bigram_surprisal")
    // c12, c1, and the V scalar all ride broadcasts into one
    // corpus scoring pass; a SortMergeJoin would mean the corpus
    // shuffled against its own vocab statistics
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the V scalar
    assert(!p.contains("SortMergeJoin"), p)
    // bigrams explode array-side: no window exchange keyed by doc
    assert(!p.contains("Window"), p)
  }

  test("q168: classifier scoring pass broadcasts both class rank tables") {
    val p = plan("q168_rank_classifier")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q170: sketch rides one broadcast; rank window is vocab-sized") {
    val p = plan("q170_countmin_est")
    // the d×w counter matrix is ONE broadcast row against the
    // vocab-sized top-20 frame — the corpus is scanned for the
    // sketch aggregate and the counts aggregate, never joined
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial agg
  }

  test("q171: every truncation probe keeps the query side broadcast") {
    val p = plan("q171_matryoshka_recall")
    // 3 top-k passes (full, 16, 32): each joins the 1%-sampled query
    // side broadcast against the shared persisted projection; rank
    // windows are per-query, never global
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
  }

  test("q169: wordpiece apply is the native kernel over the vocab, joinless") {
    val p = plan("q169_wordpiece_apply")
    // the vocabulary rides inside the codegen'd expression — a plan
    // with a join would mean the vocab shuffle came back
    assert(p.contains("wordpiece_encode"), p)
    assert(!p.contains("Join"), p)
    // apply runs over the persisted distinct-word frame, not a rescan
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
  }

  test("q194: every CUSUM window shares ONE event_type exchange, joinless") {
    val p = plan("q194_cusum_changepoint")
    // ordering window, running sum, per-type count/total, and the
    // argmax rank all partition by event_type: the event stream
    // shuffles exactly once (plus only the final ORDER BY range)
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition()"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      readSchema) // prunes to (event_type, ts, event_id, value)
  }

  test("q195: degree table broadcasts into both endpoint joins; one pass") {
    // the public query checkpoints its single row (flat RDD), so the
    // pin inspects the inner statistics plan the checkpoint ran
    val p = queries.Mining.assortativityStats(
        queries.Mining.undGraph(spark, dir))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // two node-sized broadcasts (du, dv) + the two scalar frames —
    // never a shuffled join of the edge list against degrees
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // sufficient statistics partial-aggregate before the single-row agg
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q196: HITS returns a flat 20-row checkpoint, lineage released") {
    // each half-step localCheckpoints, so the OUTPUT plan must be a
    // flat RDD scan with no residual join/scan of the iteration
    val p = SparkEntry.queries("q196_hits")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("RDDScan"), p)
    assert(!p.contains("Join"), p)
  }

  test("q197: growth curves share the source exchange; explode is post-reduce") {
    val p = plan("q197_vocab_growth")
    // position window + two running sums + per-source total all ride
    // hashpartitioning(source); the first-occurrence table adds its
    // own (source, w) aggregate exchange — nothing else
    assert("hashpartitioning\\(source".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"),
      readSchema) // prunes to (source, doc_id, text)
  }

  test("q200: both quantile branches partition by event_type; scan prunes") {
    val p = plan("q200_quantile_sketch")
    // full ranks + sample ranks: two event_type window exchanges,
    // nothing keyed otherwise; the audit join is type-cardinality
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      readSchema) // prunes to (event_type, event_id, value)
  }

  test("q201: video probe is a joinless codegen scan pruned to doc_id") {
    val p = plan("q201_video_probe")
    assert(p.contains("avi_stats") && p.contains("avi_synth"), p)
    assert(!p.contains("Join"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text") && !readSchema.contains("n_chars"),
      readSchema) // payloads synthesize from doc_id alone
  }

  test("q205: prefix join plans with NO all-pairs stage and native set sizes") {
    // the public query checkpoints; pin the inner ssjPairs plan
    import org.apache.spark.sql.functions.{col, size => asize}
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), queries.Hashing.shingles(col("text"), 3).as("sh"))
      .withColumn("sz", asize(col("sh")).cast("long"))
    val p = queries.Dedup.ssjPairs(d, 5000L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // losslessness must NOT come from a quadratic scan: no cartesian
    // or nested-loop join anywhere — candidates ride the shingle
    // equi-join of the PREFIXES
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // verification uses the codegen set-cardinality expression, not
    // a materialized intersection array
    assert(p.contains("array_intersect_size"), p)
  }

  test("q208: link prediction rides the wedge join — no cartesian, degrees broadcast") {
    // pin the inner linkPredictPairs plan over a CHECKPOINTED edge
    // frame: sparseUnd's own derivation carries the broadcast-scalar
    // crossJoin idiom (ev x broadcast(n)), which is fine but would
    // false-positive the no-BNLJ assertion about the wedge machinery
    val und = queries.Mining.sparseUnd(spark, dir).localCheckpoint(true)
    // the LAZY plan form (linkPredictPairs materializes internally);
    // default cap: no hub on this graph, so the cap's anti-join must
    // be ABSENT — the adaptive branch keeps the uncapped wedge shape
    val (out, degCk) = queries.Mining.linkPredictPlan(und, 20)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // candidates come from the shared-center equi-join, never a
    // node-pair cross product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // node-sized degree table broadcasts into both endpoint joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // existing-edge removal rides an anti-join; the hub anti-join is
    // NOT in the no-hub plan (one driver scalar buys the branch —
    // its unconditional form doubled q208's bench cost). One anti
    // node = 2 text hits in FormattedMode (tree line + details).
    assert("LeftAnti".r.findAllIn(p).size == 2, p)
    Ck.release(degCk)
    // with a cap BELOW the graph's max degree the hub removal must
    // ride anti-joins in the plan, never a post-filter over an
    // uncapped wedge product — planted star so the hub branch
    // engages deterministically regardless of the testdata graph
    val s2 = spark
    import s2.implicits._
    val star = ((0L until 8L).map(i => (i, 100L)) ++ Seq((0L, 1L)))
      .toDF("a", "b").localCheckpoint(true)
    val (outHub, degCk2) = queries.Mining.linkPredictPlan(star, 20, 4L)
    val ph = outHub.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // >= 2 anti NODES (hub removal per wedge side may dedup to one
    // reused subtree, plus the edge removal) = >= 4 text hits
    assert("LeftAnti".r.findAllIn(ph).size >= 4, ph)
    assert(!ph.contains("CartesianProduct"), ph)
    Ck.release(degCk2)
    Ck.release(star)
    Ck.release(und)
  }

  test("q211: containment join is prefix-probed — no all-pairs, native set sizes") {
    import org.apache.spark.sql.functions.{col, size => asize}
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), queries.Hashing.shingles(col("text"), 3).as("sh"))
      .withColumn("sz", asize(col("sh")).cast("long"))
      .filter(col("sz") > 0L)
    val p = queries.Dedup.containmentPairs(d, 8000L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("array_intersect_size"), p)
  }

  test("q198: the Gram pass is one scan with no shuffle of row-scaled data") {
    val dirL = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q198_pca_power")(spark, dirL)
    // the distributed half already ran (driver-held model); the
    // returned report is a 66-row local relation — row-scaled data
    // never reaches the driver or a shuffle
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join"), p)
    assert(!p.contains("parquet"), p) // report is detached from the scan
  }

  // The loop round bodies hint node-sized state (rank vector,
  // survivor set, score vector) into edge joins through
  // Loop.broadcastIfFits: past the session's
  // autoBroadcastJoinThreshold the join shuffles and nothing is
  // collected to the driver. An unconditional broadcast() hint, or a
  // BROADCAST hint in a SQL text, overrides the threshold. The SQL
  // round bodies gate when they register their views. A child
  // session carries the -1 threshold, so the shared session's conf
  // is never touched.
  test("pagerank and kcoreInduced plan no BroadcastExchange when the threshold is -1") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    val cs = spark.newSession()
    cs.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val h = new AdaptiveSparkPlanHelper {}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    cs.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // the executed plans of every query `body` runs in the child
    // session, once the (async) listener bus delivered them
    def planned(body: => Unit): Seq[SparkPlan] = {
      seen.clear()
      body
      Profile.drain(cs)
      seen.toArray(Array.empty[SparkPlan]).toSeq
    }
    def sortMergeJoins(plans: Seq[SparkPlan]): Int =
      plans.map(p => h.collect(p) { case j: SortMergeJoinExec => j }.size).sum
    def broadcasting(plans: Seq[SparkPlan]): Seq[SparkPlan] =
      plans.filter(p => h.collect(p) { case b: BroadcastExchangeExec => b }.nonEmpty)
    // a 12-node permutation digraph: ranks are stationary, one round
    val e = cs.range(12).select(col("id").as("src"),
      ((col("id") * 5L + 1L) % 12L).as("dst"))
    var rounds = 0
    val pr = planned {
      val (ranks, _, n) = graft.api.ops.pagerank(e, "src", "dst")
      rounds = n
      Ck.release(ranks)
    }
    assert(rounds >= 1 && sortMergeJoins(pr) > 0,
      s"pagerank's round never planned a join (rounds=$rounds)")
    assert(broadcasting(pr).isEmpty, broadcasting(pr).mkString("\n"))
    val nbrs = e.select(col("src").as("node"), col("dst").as("nbr"))
    val core = cs.range(6).select(col("id").as("node"))
    val kc = planned { graft.queries.Mining.kcoreInduced(nbrs, core).collect() }
    assert(sortMergeJoins(kc) == 2, kc.mkString("\n"))
    assert(broadcasting(kc).isEmpty, broadcasting(kc).mkString("\n"))
    // the SQL-driven loops: their graph derivations cross-join a
    // one-row broadcast max (a nested-loop join, not node-sized), so
    // what must be absent here is a broadcast HASH join
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.api.SqlSurface
    val dirL = "/root/testdata/sf0.001"
    Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])](
      "kcoreLoopSql" -> (() => Seq(SqlSurface.kcoreLoopSql(cs, dirL)._1)),
      "prLoopSql" -> (() => Seq(SqlSurface.prLoopSql(cs, dirL)._1)),
      "hitsLoopSql" -> { () => val (a, h) = SqlSurface.hitsLoopSql(cs, dirL); Seq(a, h) }
    ).foreach { case (loop, run) =>
      val plans = planned(run().foreach(Ck.release))
      val bhj = plans.filter(p =>
        h.collect(p) { case j: BroadcastHashJoinExec => j }.nonEmpty)
      assert(bhj.isEmpty, s"$loop:\n" + bhj.mkString("\n"))
      assert(sortMergeJoins(plans) > 0, s"$loop never planned a join")
    }
  }

  // Re-pinned when star2Round moved to the two-window reducer form:
  // the older aggregate-then-join-back body planned a broadcast min
  // table join, a dedup aggregate and a triple-referenced `large`
  // subtree whose exchange AQE reused (9 AQE jobs per q161 round);
  // the window form sees each neighbourhood in one window partition,
  // so the round plans no join at all and one exchange per phase.
  test("cc alternation (star2Round): two window passes + one two-phase aggregate, three exchanges, no joins") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GetStructField}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (1L, 6L))
      .toDF("a", "b").localCheckpoint(true)
    val round = graft.api.ops.star2Round(e)
    round.collect() // AQE finalizes the executed plan
    val plan = round.queryExecution.executedPlan
    val h = new AdaptiveSparkPlanHelper {}
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = h.collect(plan)(pf)
    val p = plan.toString
    assert(all { case j if j.nodeName.contains("Join") => j }.isEmpty, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // one exchange per phase: large-star on u, small-star on b, the
    // output aggregation on (sa, sb)
    // (the aggregation keys are pulled out of the exploded struct
    // into projected `_groupingexpression` columns; name them by the
    // struct field they extract)
    val field = all { case x: ProjectExec => x.projectList }.flatten.collect {
      case al: Alias if al.child.isInstanceOf[GetStructField] =>
        al.exprId -> al.child.asInstanceOf[GetStructField].extractFieldName
    }.toMap
    val keys = all { case x: ShuffleExchangeExec => x.outputPartitioning }
      .map {
        case hp: HashPartitioning =>
          hp.expressions.map {
            case a: Attribute => field.getOrElse(a.exprId, a.name)
            case o => o.sql
          }.mkString(",")
        case other => other.toString
      }
    assert(keys.sorted == Seq("b", "sa,sb", "u"), p)
    assert(all { case w: WindowExec => w }.size == 2, p)
    // the output aggregate is two-phase: a map-side partial max
    // before the (sa, sb) exchange
    val modes = all { case a: HashAggregateExec => a.aggregateExpressions.map(_.mode) }
    assert(modes.size == 2 && modes.flatten.toSet == Set(Partial, Final), p)
    Ck.release(e)
  }
}