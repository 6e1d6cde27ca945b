package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic checkpoint-block release (`Ck.release`): the
  * round-6 bench showed loop queries slowing down monotonically
  * across runs in one JVM (q163 k-means 5.3 s -> 7.3 s -> 19.6 s)
  * because every superseded per-round `localCheckpoint` stayed
  * pinned in the BlockManager until an eventual GC. These tests pin
  * the fix: a loop leaves at most its RETURNED frame behind, so run
  * N of a loop query starts from the same persisted-RDD population
  * as run 1.
  */
class CkReleaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Persistent-RDD ids right now (localCheckpoint blocks live here,
    * invisible to spark.catalog). */
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release() drops a checkpoint's blocks; lazy frames are a no-op") {
    val before = persisted
    val ck = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
      .localCheckpoint(true)
    val added = persisted -- before
    assert(added.nonEmpty, "eager localCheckpoint must register blocks")
    // a projection of the checkpoint shares its backing RDD — release
    // through the projection, as the loops do
    Ck.release(ck.select(col("id")))
    assert(persisted == before, "release must drop exactly the new blocks")
    // a plain lazy plan has no LogicalRDD: release is a safe no-op
    Ck.release(spark.range(10).filter(col("id") > 3))
    assert(persisted == before)
  }

  test("cc loop: leaves only the returned frame's blocks behind") {
    spark.catalog.clearCache()
    val before = persisted
    val (labels, _) = graft.queries.Mining.ccLoop(spark, dir)
    labels.count() // a consumer materializes the result...
    // catalog-managed persists (graphEv's shared event cache) are the
    // harness's clearCache() job — this spec pins CHECKPOINT hygiene,
    // the blocks clearCache() cannot see
    spark.catalog.clearCache()
    val leftover = persisted -- before
    // ...and the loop has already released every superseded round:
    // at most the one checkpoint backing `labels` survives
    assert(leftover.size <= 1,
      s"cc loop leaked ${leftover.size} persisted RDDs (want <= 1)")
    Ck.release(labels)
    assert(persisted == before, "releasing the returned frame must zero the loop")
  }

  test("loop runs do not accumulate: run N == run 1 persisted population") {
    def runOnce(): Set[Int] = {
      val (labels, _) = graft.queries.Mining.ccLoop(spark, dir)
      labels.count()
      Ck.release(labels)
      spark.catalog.clearCache()
      persisted
    }
    val p1 = runOnce()
    val p2 = runOnce()
    val p3 = runOnce()
    assert(p2.size == p1.size && p3.size == p1.size,
      s"persisted-RDD population grew across runs: ${p1.size}/${p2.size}/${p3.size}")
  }

  test("q163 k-means converge: leaves ZERO checkpoint blocks behind") {
    spark.catalog.clearCache()
    val before = persisted
    // the census is collected driver-side and the output rebuilt from
    // driver rows, so the full query can be block-clean
    val out = graft.queries.Vectors.q163KmeansConverge(spark, dir)
    out.count()
    spark.catalog.clearCache()
    assert(persisted == before,
      s"q163 leaked ${(persisted -- before).size} persisted RDDs (want 0)")
  }

  test("q222 semdedup: leaves only the returned census behind") {
    spark.catalog.clearCache()
    val before = persisted
    // semDedup materializes kept + census checkpoints and releases
    // everything internal (assignment/pair persists, cc labels);
    // q222 releases kept immediately, so at most the census's one
    // checkpoint survives the run
    val out = graft.queries.Vectors.q222SemDedup(spark, dir)
    out.count()
    spark.catalog.clearCache()
    val leftover = persisted -- before
    assert(leftover.size <= 1,
      s"q222 leaked ${leftover.size} persisted RDDs (want <= 1)")
    Ck.release(out)
    assert(persisted == before,
      "releasing the census must zero the query")
  }

  test("bfs loop: immediate-exhaustion path keeps the seed frame readable") {
    // ops.bfsDistances with seeds whose neighbors are all seeds too:
    // hop 1 finds nothing fresh, the loop exhausts immediately, and
    // the dist join must still read the seed level (only the empty
    // hop-1 level is released)
    val edges = spark.range(6).select(col("id").as("src"),
      ((col("id") + 1) % 6).as("dst"))
    val (dist, hops) = graft.api.ops.bfsDistances(
      edges, "src", "dst", _ => lit(true))
    assert(hops == 1)
    assert(dist.filter(col("dist") === 0L).count() == 6)
  }

  test("scc loop: a caller-persisted edge frame stays cached on both surfaces") {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, NONE}
    // sccAssign's own persist is a no-op on a frame the caller already
    // cached; dropping it (or the SQL surface's `scc_edges` view over
    // it) would drop the caller's cache entry
    val drivers = Seq[(String, DataFrame => (DataFrame, Int))](
      "dataframe" -> (e => graft.queries.Mining.sccAssign(e)),
      "sql" -> (e => graft.api.SqlSurface.sccLoopSqlOn(spark, e)))
    for ((driver, scc) <- drivers) {
      val edges = graft.queries.Mining.dirEdges(spark, dir).persist(MEMORY_AND_DISK)
      Tables.touch(edges)
      val (labels, _) = scc(edges)
      Ck.release(labels)
      assert(edges.storageLevel != NONE,
        s"$driver: the SCC loop dropped the caller's edge cache")
      edges.unpersist(blocking = true)
    }
  }

  test("scc loop: nested trim/color/collect rounds all release their blocks") {
    // the one SCC driver over each body set it runs
    val drivers = Seq[(String, DataFrame => (DataFrame, Int))](
      "dataframe" -> (e => graft.queries.Mining.sccAssign(e)),
      "sql" -> (e => graft.api.SqlSurface.sccLoopSqlOn(spark, e)))
    for ((driver, scc) <- drivers) {
      spark.catalog.clearCache()
      val before = persisted
      val (labels, _) = scc(graft.queries.Mining.dirEdges(spark, dir))
      labels.count()
      spark.catalog.clearCache() // graphEv's catalog-managed cache
      val leftover = persisted -- before
      // three nested inner loops per outer round — only the returned
      // assignment frame may survive
      assert(leftover.size <= 1,
        s"$driver: scc loop leaked ${leftover.size} persisted RDDs (want <= 1)")
      Ck.release(labels)
      assert(persisted == before,
        s"$driver: releasing the returned frame must zero the loop")
    }
  }

  test("hits: both surfaces release") {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = spark
    import s.implicits._
    // the one HITS driver over each half-step body it runs
    val drivers = Seq[(String, DataFrame => (DataFrame, DataFrame))](
      "dataframe" -> (e => graft.queries.Curation.hitsScores(e)),
      "sql" -> (e => graft.api.SqlSurface.hitsLoopSqlOn(spark, e)))
    for ((driver, hits) <- drivers) {
      // an edgeless graph: empty scores, every cache and checkpoint
      // the driver made is gone once the caller releases them
      spark.catalog.clearCache()
      val before = persisted
      val (a0, h0) = hits(Seq.empty[(Long, Long)].toDF("src", "dst"))
      assert(a0.isEmpty && h0.isEmpty, s"$driver: edgeless graph scored nodes")
      Ck.release(a0); Ck.release(h0)
      assert(persisted == before,
        s"$driver: edgeless hits leaked ${(persisted -- before).size} persisted RDDs")
      // q196's graph: only the returned (a, h) blocks remain
      val e = graft.queries.Curation.hitsEdges(spark, dir).persist(MEMORY_AND_DISK)
      Tables.touch(e)
      val (a, h) = hits(e)
      a.count(); h.count()
      spark.catalog.clearCache() // graphEv's catalog-managed cache
      val leftover = persisted -- before
      assert(leftover.size <= 2,
        s"$driver: hits leaked ${leftover.size} persisted RDDs (want <= 2)")
      Ck.release(a); Ck.release(h)
      assert(persisted == before,
        s"$driver: releasing the returned frames must zero the loop")
    }
  }

  test("loop guards release their live state: kmeans and dagLayers past maxRounds") {
    spark.catalog.clearCache()
    val before = persisted
    // k-means on a line with alternating initial cells: round 1
    // reassigns half the points, far past the 2% stop threshold
    val points = spark.range(100).select(col("id"),
      array(col("id").cast("double"), lit(0.0)).as("v"))
    val km = intercept[IllegalArgumentException] {
      graft.api.ops.kmeansToConvergence(points, "id", col("v"),
        col("id") % 2, maxRounds = 1)
    }
    assert(km.getMessage.contains("did not settle"), km.getMessage)
    assert(persisted == before,
      s"kmeans guard leaked ${(persisted -- before).size} persisted RDDs")
    // a 3-chain condensation DAG needs two relaxation rounds to
    // settle its levels (plus the stable round)
    val s = spark
    import s.implicits._
    val cond = Seq((1L, 2L), (2L, 3L)).toDF("csrc", "cdst")
    val census = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("scc", "n_nodes")
    val dag = intercept[IllegalArgumentException] {
      graft.queries.Mining.dagLayers(cond, census, maxDepth = 1)
    }
    assert(dag.getMessage.contains("did not settle"), dag.getMessage)
    assert(persisted == before,
      s"dagLayers guard leaked ${(persisted -- before).size} persisted RDDs")
  }
}
