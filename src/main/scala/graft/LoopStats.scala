package graft

/** Round counts of the convergence loops, per query. The loops stop
  * on data-driven conditions, so a loop query's time is rounds x
  * per-round cost, and the count tells "more rounds" from "slower
  * rounds" without a re-run. Harnesses (Bench, perfbench) drain it
  * between queries.
  */
object LoopStats {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Record the final round/hop count of a named loop. */
  def record(loop: String, rounds: Long): Unit = counts.put(loop, rounds)

  /** Read a recorded count without draining (0 if absent) — lets a
    * multi-invocation loop record a running max.
    */
  def peek(loop: String): Long = counts.getOrDefault(loop, 0L)

  /** Record a loop's round count plus its checkpoint cost split from
    * the calling thread's [[Profile]] rounds since the previous record
    * or drain: `<loop>_wms` = driver wall ms inside the checkpoint
    * actions, `<loop>_tms` = executor task ms of their jobs. Wall >>
    * task/cores means the loop pays a per-round floor, not data.
    */
  def recordLoop(loop: String, rounds: Long): Unit = {
    val trace = Profile.takeRounds()
    counts.put(loop, rounds)
    counts.put(s"${loop}_wms", trace.map(_.wallNs).sum / 1000000L)
    counts.put(s"${loop}_tms", trace.map(_.counters.taskRunMs).sum)
  }

  /** Snapshot and clear, and forget the calling thread's unrecorded
    * rounds, so a stray Loop.checkpoint cannot bleed cost into the next
    * query's first recorded loop (rounds belong to the thread that ran
    * them: drain on the thread that runs the queries).
    */
  def drain(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val snap = counts.asScala.toMap
    counts.clear()
    Profile.takeRounds()
    snap
  }
}
