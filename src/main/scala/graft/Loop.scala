package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit}

/** The one driver for convergence loops (cc / PageRank / k-core /
  * k-means / DAG layering) and the one checkpoint primitive under
  * it.
  *
  * [[checkpoint]]: every loop round ends with an eager
  * localCheckpoint whose one materialization serves the next round.
  * The round's STOP METRIC ("how many edges changed?", "how much
  * rank moved?", "how many nodes survived?") is any aggregate Column;
  * it rides the SAME job as a Spark [[Observation]] (`observe()`),
  * so one job answers both questions. The observation completes on
  * Spark's async listener bus, normally within a few ms of the
  * action; if it has not completed within [[RiderWait]] the metric
  * is recomputed by a second job over the checkpointed rows
  * (`agg(coalesce(metric, 0))`). Correctness never depends on bus
  * timing; only the saved job does. Every checkpoint carries the
  * MEASURED BlockManager size as its statistics (GraftPlanStats),
  * and `keepLayout` materializes with AQE off so the checkpoint
  * carries the plan's real hash partitioning into the next round
  * ([[noAdaptive]]).
  *
  * [[fixpoint]]: the round loop itself — round counter, (round,
  * metric) curve, release of each superseded round, projection back
  * to the init's columns, probe, LoopStats.recordLoop, and the
  * bounded-round guard (which releases the live state before it
  * fails). New loops go through it; the loops that keep their own
  * shape (the BFS level loop `ops.bfsLevels`, SCC's nested trims,
  * label propagation, the fixed-round unrolls) still checkpoint
  * through [[checkpoint]].
  */
object Loop {
  // test introspection: how often the metric rode the checkpoint job
  // vs fell back to a second job (LoopRiderSpec pins rides > 0, i.e.
  // the observation really does complete for localCheckpoint actions)
  private[graft] val rides = new AtomicLong()
  private[graft] val fallbacks = new AtomicLong()
  /** How long a checkpoint waits for its observation before paying
    * the second-job fallback. */
  private val RiderWait: FiniteDuration = 500.millis
  private val seq = new AtomicLong()
  // per-loop cost split (bench_detail "rounds" side channel): wall ns
  // spent inside checkpoint actions vs executor task ms burned
  // during them. Thread-local because loops are driver-side
  // sequential per query; the SparkListener total is session-global
  // and its bus is ASYNC, so the task split is approximate (a stage
  // completing around a round boundary may land in the neighbor's
  // window) — right at loop totals, indicative per round.
  private val ckWallNs = ThreadLocal.withInitial[AtomicLong](() => new AtomicLong())
  private val ckTaskMs = ThreadLocal.withInitial[AtomicLong](() => new AtomicLong())
  private[graft] val taskMsTotal = new AtomicLong()
  private val taskHooked =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private[graft] def ensureTaskListener(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val needs = taskHooked.synchronized {
      if (taskHooked.containsKey(sc)) false
      else { taskHooked.put(sc, java.lang.Boolean.TRUE); true }
    }
    if (needs) sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) taskMsTotal.addAndGet(m.executorRunTime)
      }
    })
  }

  /** Snapshot-and-reset the calling thread's accumulated checkpoint
    * cost: (wall ms inside checkpoint actions, executor task ms
    * during them). LoopStats.recordLoop drains this per named loop
    * so bench_detail can split a loop query's fixed per-round floor
    * (wall >> task/cores) from its data cost (task-dominated).
    */
  def drainTimes(): (Long, Long) = {
    val w = ckWallNs.get().getAndSet(0L) / 1000000L
    val t = ckTaskMs.get().getAndSet(0L)
    (w, t)
  }

  /** Run `body` with adaptive execution OFF, restoring the previous
    * setting after (r16). WHY a fixpoint loop wants this for its
    * round materializations: `LogicalRDD.fromDataset` (the
    * localCheckpoint plan) can only capture the executed plan's
    * outputPartitioning/outputOrdering when the plan is NOT an
    * AdaptiveSparkPlanExec — under AQE every round checkpoint reads
    * back as UnknownPartitioning and the next round RE-EXCHANGES
    * state that is already laid out on the join key. With AQE off
    * for exactly these jobs, a key-partitioned loop state carries
    * its layout (and sort order) across rounds and the steady round
    * plans with ZERO exchanges — the fixed co-partitioning every
    * production iterative job (GraphX, Pregel-style) relies on. The
    * trade: round stages run at the state's materialized partition
    * count instead of AQE-coalesced — exactly the deterministic
    * layout reuse the loop wants, sized by the ONE-TIME repartition
    * that established it (shuffle.partitions at scale). Session-conf
    * swap is safe here because loops drive their rounds sequentially
    * on one thread (the LoopStats thread-local contract).
    */
  private def noAdaptive[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** Scale-adaptive partition count for a loop's co-partitioned
    * state (r16, guide §2: derive partitioning from input size, not
    * a constant tuned for local mode or the cluster). Uses the
    * optimizer's size estimate of `anchor` — the loop's LARGEST
    * frame, normally the edge list — at one reduce-partition-target
    * granularity (AQE's 64 MB advisory default), clamped to
    * [1, spark.sql.shuffle.partitions]. At test scale a few-MB graph
    * iterates on 1 partition (single-task rounds, no 32-way tiny-task
    * fan-out per round); at 100 TB the clamp lands on the cluster's
    * configured shuffle width, exactly where a static layout would.
    * The estimate only steers a clamp, so order-of-magnitude
    * precision is enough; a garbage BigInt estimate (join products)
    * saturates harmlessly at the upper clamp.
    *
    * FLOOR = 2, never 1 (r17, measured root cause of the r16
    * verdict's "residual ENSURE_REQUIREMENTS exchange"): a width-1
    * layout materializes as SinglePartition, and EnsureRequirements
    * REFUSES a SinglePartition join child whose ESTIMATED size
    * exceeds spark.sql.maxSinglePartitionBytes (128 MB —
    * SPARK-41986). A loop round's contribution/aggregate side
    * inherits a join-PRODUCT estimate (measured here: 6.6 GB claimed
    * for a ~50 KB node-sized aggregate), so the planner re-shuffled
    * it to shuffle.partitions every round — and round 1 re-shuffled
    * the state side too, to match — exactly the exchange the
    * co-partitioning design says is free. Hash layouts carry no such
    * size gate: HashShuffleSpec compatibility is key-positional, so
    * at width 2 the same round plans with ZERO exchanges (verified
    * against Spark 4.1: two width-2 checkpoints SMJ exchange-free;
    * the width-1 pair re-shuffles both sides). The cost is one extra
    * sub-second task per round stage at test scale; at any real size
    * the clamp is far above 2 anyway.
    */
  def statePartitions(anchor: DataFrame,
      targetBytes: Long = 64L << 20): Int = {
    val max = anchor.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val est = anchor.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est + targetBytes - 1) / targetBytes
    val floored = want.max(BigInt(2))
    if (floored >= max) max else floored.toInt
  }

  /** `broadcast(df)` only while df's estimated size fits the
    * session's autoBroadcastJoinThreshold, else `df` unchanged (r17,
    * ADVICE): the loop round bodies hint their node-sized state
    * (rank vectors, HITS scores, label/survivor tables) into edge
    * joins — right at any size a broadcast can carry, but an
    * unconditional hint BYPASSES the threshold, so at 100 TB a
    * node-sized relation would be collected to the driver and
    * shipped to every executor (guide §3.1's driver-OOM shape; hard
    * 8 GB / 512M-row broadcast cap). The loop states carry MEASURED
    * checkpoint statistics (GraftPlanStats), so the estimate here is
    * the BlockManager's truth, not a join-product guess: at test
    * scale the gate always passes and the plan stays bit-identical;
    * past the threshold the join degrades to the co-partitioned /
    * shuffle form each call site documents — exactly when a real
    * cluster would have to.
    */
  def broadcastIfFits(df: DataFrame): DataFrame = {
    val thrStr = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    // a leading '-' negates, as Spark's own byte-conf parser reads
    // it: "-1" (broadcast off) must not fall back to the 10 MB default
    val (mag, sign) =
      if (thrStr.startsWith("-")) (thrStr.drop(1), -1L) else (thrStr, 1L)
    val thr =
      try sign * org.apache.spark.network.util.JavaUtils.byteStringAsBytes(mag)
      catch { case _: NumberFormatException => 10L << 20 }
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thr > 0 && est <= BigInt(thr))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Eagerly checkpoint `frame` and report the int64 value of the
    * aggregate `metric` over it (0 when the aggregate is null, e.g.
    * a sum or max over no rows), measured on the checkpoint job
    * itself through an [[Observation]]; a second job over the
    * checkpointed rows answers only when the observation misses
    * [[RiderWait]]. `keepLayout` materializes with AQE off so the
    * checkpoint carries the plan's hash partitioning and sort order
    * ([[noAdaptive]]). The checkpoint carries measured statistics:
    * a round body that joins the previous round would otherwise
    * compound the inherited size estimate into a BigInt the planner
    * hangs on past ~12 rounds.
    */
  def checkpoint(frame: DataFrame, metric: Column,
      keepLayout: Boolean = false): (DataFrame, Long) = {
    ensureTaskListener(frame.sparkSession)
    val value = coalesce(metric, lit(0L)).as("mv")
    val obs = Observation(s"graft_loop_${seq.incrementAndGet()}")
    val t0 = System.nanoTime()
    val task0 = taskMsTotal.get()
    def materialize(): DataFrame =
      org.apache.spark.sql.GraftPlanStats.withMeasuredStats(
        frame.observe(obs, value).localCheckpoint(true))
    val ck =
      if (keepLayout) noAdaptive(frame.sparkSession)(materialize())
      else materialize()
    val n =
      try {
        val row = Await.result(obs.future, RiderWait)
        rides.incrementAndGet()
        row.getLong(0)
      } catch {
        case _: TimeoutException =>
          fallbacks.incrementAndGet()
          secondJob(ck, metric)
      }
    ckWallNs.get().addAndGet(System.nanoTime() - t0)
    ckTaskMs.get().addAndGet(math.max(0L, taskMsTotal.get() - task0))
    (ck, n)
  }

  /** The fallback: `metric` recomputed by a second job over the
    * checkpointed rows. */
  private[graft] def secondJob(ck: DataFrame, metric: Column): Long =
    ck.agg(coalesce(metric, lit(0L))).head().getLong(0)

  /** Iterate `round` from `init` to a fixpoint. `init` is
    * checkpointed first (its row count rides that job); each round
    * then checkpoints `round(state)` with `metric` riding the same
    * job, releases the superseded state, appends (round, metric) to
    * the curve, projects the checkpoint back to `init`'s columns
    * (round-only columns such as a moved flag drop here) and hands
    * that to `probe`. The loop stops at the first round where
    * `done(previous, metric)` holds — `previous` is the prior
    * round's metric, or the init's row count in round 1 (what a
    * peel loop compares survivor counts against). Past `maxRounds`
    * the live state is released and the loop fails loudly: the
    * bound is a failure guard, never a stop rule. On success the
    * round count is recorded as `LoopStats.recordLoop(name, rounds)`.
    * Returns the final state and the curve (its length is the round
    * count). The caller owns whatever `round` reads besides the
    * state (edge persists, views) and must release it in a
    * `finally` to stay leak-free on the guard path.
    */
  def fixpoint(name: String, init: DataFrame, metric: Column,
      maxRounds: Int, keepLayout: Boolean = false,
      done: (Long, Long) => Boolean = (_, m) => m == 0L,
      probe: (Int, DataFrame) => Unit = (_, _) => ())(
      round: DataFrame => DataFrame): (DataFrame, Seq[(Long, Long)]) = {
    val cols = init.columns.toSeq.map(col)
    var (state, prev) = checkpoint(init, count(lit(1)), keepLayout)
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var settled = false
    while (!settled && curve.length < maxRounds) {
      val (next, m) = checkpoint(round(state), metric, keepLayout)
      Ck.release(state) // superseded round, fully consumed by `next`
      settled = done(prev, m)
      prev = m
      curve += ((curve.length + 1L, m))
      state = next.select(cols: _*)
      probe(curve.length, state)
    }
    if (!settled) Ck.release(state)
    require(settled, s"loop '$name' did not settle in $maxRounds rounds")
    LoopStats.recordLoop(name, curve.length.toLong)
    (state, curve.toSeq)
  }

  /** Attach a counting observe() rider to a LAZY frame and return it
    * with a deferred reader. Unlike [[checkpoint]] nothing
    * materializes here: the metric surfaces when some LATER action
    * executes the plan built on the returned frame, and `read()` then
    * waits up to [[RiderWait]] for the observation without running
    * any job. A rider that never fired reads None and the caller
    * records nothing — there is deliberately NO second-job fallback,
    * because re-deriving an intermediate frame for a diagnostic count
    * costs more than the count is worth (q205's candidate table is
    * the query's largest intermediate; eagerly checkpointing it just
    * to count it stored the whole thing in the BlockManager).
    */
  def riderCount(frame: DataFrame): (DataFrame, () => Option[Long]) = {
    val obs = Observation(s"graft_loop_${seq.incrementAndGet()}")
    val observed = frame.observe(obs, count(lit(1)).as("n"))
    (observed, () =>
      try Some(Await.result(obs.future, RiderWait).getLong(0))
      catch { case _: TimeoutException => None })
  }
}
