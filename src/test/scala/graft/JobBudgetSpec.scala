package graft

/** Job-count budgets for the mining-family bench creepers (round-12
  * verdict item 6: q165 +24%, q195 +31%, q196 +49% over two rounds —
  * every step under the 1.5x drift gate, so nothing ever flagged).
  * The per-query `rounds` telemetry makes a drift attributable after
  * the fact; this spec makes a plan-shape or job-count regression
  * FAIL A TEST at build time instead of hiding under the gate.
  *
  * Method: the jobs of a per-query job group set around the run, read
  * from graft.Profile once the listener bus delivered them — group
  * filtering keeps the count clean under sbt's parallel suite
  * execution, and local properties propagate to broadcast-exchange
  * threads (SQLExecution captures them), so broadcast jobs are
  * counted too. Loop-rider fallbacks (a stop-check metric missing
  * its listener window pays one extra job on the SAME thread, i.e.
  * the same group) are the one nondeterminism, so each budget allows
  * +riders slack: the pin still catches the regressions it exists
  * for (q196's pre-fusion shape was +16 jobs, far past its slack).
  */
class JobBudgetSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Run `body`, then unpersist only the RDDs it newly registered
    * (id-diff against a before-snapshot). The previous cleanup
    * (clearCache() + unpersist-ALL on the shared session) could evict
    * another suite's cached tables mid-test under sbt's parallel
    * execution (round-13 advice); scoping by id-diff leaves
    * pre-existing frames alone. The queries' internal CacheManager
    * registrations survive as unpersisted relation stubs — job counts
    * are action/checkpoint/broadcast-driven, so the pins are
    * unaffected (verified when the pins were re-measured). Residual
    * race: an RDD another suite registers INSIDE this window is still
    * swept — strictly narrower than the old sweep-everything.
    */
  private def scoped[T](body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** One measured run of `name`: warm-up run first (the first
    * consumer of a small table pays the one-off multi-split copy
    * job — see Tables.spread — and the first read of each parquet
    * file pays its one-off schema-inference job, which fills the
    * Tables schema memo), then the counted run's profile, with rider
    * fallbacks measured over the counted window.
    */
  private def jobsOf(name: String): (Profile.Group, Long) = {
    scoped { SparkEntry.queries(name)(spark, dir).count() } // warm-up
    scoped {
      val fb0 = Loop.fallbacks.get()
      val (_, g) = Profile.run(spark, s"jobbudget_$name") {
        SparkEntry.queries(name)(spark, dir).count()
      }
      (g, Loop.fallbacks.get() - fb0)
    }
  }

  /** Pin helper: jobs must sit in [expected, expected + riders] —
    * the lower bound catches a silently DROPPED stage (a query that
    * stopped doing its work also breaks its budget), the upper
    * bound the creep this spec exists for. `riders` = the query's
    * Loop-rider call count (each can add one fallback job; under a
    * parallel full-suite run the global fallback counter may also
    * tick for OTHER suites, so the measured fb is advisory — the
    * slack uses the structural rider count instead).
    */
  private def pin(name: String, expected: Long, riders: Long): Unit = {
    val (g, fb) = jobsOf(name)
    val jobs = g.counters.jobs
    assert(jobs >= expected && jobs <= expected + riders,
      s"$name: $jobs jobs (expected $expected..${expected + riders}; " +
        s"global fallback delta $fb); by call site: ${SparkSpec.sites(g)}")
  }

  test("q196 HITS: 8 fused half-step jobs + setup, never the 3-job half-step shape") {
    pin("q196_hits", Q196Expected, riders = 8L)
  }

  // round-14 (verdict item 4): the five most expensive bench queries
  // get the same protection — the q196 lesson (a +16-job shape
  // regression hid under the 1.5x drift gate until it cost 49%)
  // applies with the most force to the heavy tail. Expected values
  // measured twice at sf0.001 (identical runs, fb=0); riders = the
  // run's Loop rider-call count (rides+fallbacks delta), each of
  // which can legally add one fallback job.
  test("q216 diameter sweep: one cc fixpoint + two BFS legs over one shared edge derivation") {
    pin("q216_diameter_sweep", Q216Expected, riders = 5L)
  }

  // riders = the hop count at sf0.001 (one Loop.checkpoint per hop)
  test("q172 BFS: one level-list frontier loop, 3 jobs per hop") {
    pin("q172_bfs_hops", Q172Expected, riders = 1L)
  }

  test("q225 closeness: the same level loop keyed by seed") {
    pin("q225_closeness_sample", Q225Expected, riders = 2L)
  }

  test("q199 SCC: trim peel + color/collect fixpoint, no freeze-misfire job inflation") {
    pin("q199_scc", Q199Expected, riders = 9L)
  }

  test("q202 condensation DAG: inherits q199's SCC + acyclic longest-path relaxation") {
    pin("q202_condensation_dag", Q202Expected, riders = 10L)
  }

  test("q217 incremental cc: base fixpoint + delta-restricted warm-start, never a full recompute") {
    pin("q217_incremental_cc", Q217Expected, riders = 2L)
  }

  test("q178 incremental pagerank: cold + warm data-driven rounds, one checkpoint job each") {
    pin("q178_incremental_pagerank", Q178Expected, riders = 7L)
  }

  test("q165 label propagation: 3 checkpointed rounds + setup, no per-round creep") {
    pin("q165_label_prop_rounds", Q165Expected, riders = 0L)
  }

  test("q195 assortativity: one sufficient-statistics pass, broadcast degrees") {
    pin("q195_assortativity", Q195Expected, riders = 0L)
  }

  // measured at sf0.001 (see the scaladoc for method); update ONLY
  // with a deliberate plan change, never to silence a regression
  // 47 -> 46 in r16: dual-orientation edge caches + id-partitioned
  // score checkpoints (layout-keeping Loop.checkpoint) — two extra
  // orientation touch jobs, three fewer broadcast-build jobs in the
  // half-steps
  // 46 -> 44: footer-inference jobs gone (Tables schema memo)
  private val Q196Expected = 44L
  // 27 -> 21 in r16: node-partitioned neighbor cache — each round's
  // groupBy(node, nlbl) and argmax window are satisfied by the
  // cache's hash(node) layout (zero exchanges, fewer broadcast jobs)
  // 21 -> 19: footer-inference jobs gone (Tables schema memo)
  private val Q165Expected = 19L
  // 28 -> 26: footer-inference jobs gone (Tables schema memo)
  private val Q195Expected = 26L
  // 58 -> 47: three measured plan changes, no loop-shape change —
  // -4 from ops.bfsDistances' one anti-join against the union of the
  // two previous levels (r17: one broadcast-build job fewer per hop,
  // two sweeps x 2 hops), -2 footer-inference jobs gone (Tables
  // schema memo), -5 from star2Round's two-window cc round (4 jobs
  // per alternation checkpoint instead of 9)
  // 47 -> 42: both sweeps run ops.bfsLevels over one prepared
  // graph (one neighbour list and node checkpoint instead of one per
  // sweep), read their farthest node off the levels (no join back to
  // the node set), and fold the two-level visited check into the
  // hop's aggregate (no anti-join broadcast: 3 jobs per hop, not 4)
  private val Q216Expected = 42L
  // measured at sf0.001 when q172 moved onto ops.bfsDistances (the
  // one BFS level loop): node checkpoint, seed level, 1 hop
  private val Q172Expected = 19L
  // measured with q172's: the same loop keyed by seed, 2 hops
  private val Q225Expected = 21L
  // 68 -> 66: footer-inference jobs gone (Tables schema memo)
  // 66 -> 63: sccAssign keeps the caller's edge cache (it unpersisted
  // it), so the intra-edge census reads the cache instead of
  // re-deriving dirEdges
  private val Q199Expected = 63L
  // 80 -> 78: footer-inference jobs gone (Tables schema memo)
  // 78 -> 72: the same kept cache, twice: dagLayers' condensation
  // edges and census read its persisted canonical edges
  private val Q202Expected = 72L
  // 61 -> 57: footer-inference jobs gone (Tables schema memo)
  // 57 -> 47: star2Round's two-window round runs 4 jobs per cc
  // alternation checkpoint instead of 9 (no joins, one exchange per
  // phase), over q217's two cc fixpoints
  private val Q217Expected = 47L
  // 71 -> 52 in r16: the co-partitioned round (edeg laid out on dst
  // at Loop.statePartitions width, rank checkpoints carrying
  // hash(id) + sort order via Loop.checkpoint(keepLayout)) makes every
  // steady round a single zero-exchange checkpoint job — the per-round
  // contribution broadcast builds and rank exchanges are gone; the
  // window-based withOutdeg also drops the double edge derivation
  // 52 -> 50: footer-inference jobs gone (Tables schema memo)
  private val Q178Expected = 50L
}
