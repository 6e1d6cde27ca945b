package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver-provided testdata
  * (TESTDATA.md). All reads go through here so scans stay
  * declarative: Catalyst pushes filters and prunes columns into the
  * parquet scan (verify with .explain — PushedFilters / ReadSchema),
  * and so each file's schema is inferred once per JVM (see `read`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Every path read: `spark.read.parquet(path)` with the schema
    * inferred ONCE per file per JVM. A bare path read makes Spark
    * infer the schema with a footer-merge job, and on small data that
    * job's fixed cost (closure cleaning, task serialization,
    * scheduling) is several times the driver CPU of the read given
    * its schema. The memo hands the inferred StructType to
    * `spark.read.schema(..)`, so every later read of the same file
    * launches no job.
    *
    * CONTRACT: keyed on (path, size, mtime in ms, the session's
    * explicitly set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
    * confs) — the confs change what inference returns (events() sets
    * nanosAsLong; inferTimestampNTZ picks NTZ vs LTZ), and a file
    * rewritten under the same path gets a fresh inference. JVM-global
    * like `spreadCopies`: keyed by file identity, not by session. Each
    * read still builds a fresh relation with fresh expression ids, and
    * file sources make the data schema nullable either way, so the
    * analysed plan has the same shape as a bare path read.
    */
  private def read(s: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val confs = s.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted.mkString(",")
    val schema = schemas.computeIfAbsent(s"$path@${f.length}:${f.lastModified}@$confs",
      _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  // (path@size:mtime@confs -> inferred schema); see `read`
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped in two physical shapes across testdata
    * generations: int64 NANOSECONDS (read as long via the legacy conf,
    * truncated to µs — the same truncation DuckDB applies) and plain
    * timestamp[us] (no isAdjustedToUTC, which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to TimestampType: the session
    * timezone is pinned to UTC everywhere (Verify/Bench/specs), so the
    * NTZ→timestamp cast is value-preserving and every downstream
    * consumer (window(), session_window, unix_millis) sees one type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def norm = {
      val df = table(s, d, "events")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case _ => df.withColumn("ts", col("ts").cast(TimestampType))
      }
    }
    // Spread like documents/embeddings: events also ships as ONE row
    // group, so without this every events consumer runs its scan +
    // get_json_object parse as a SINGLE task. Round-7 adjudication of
    // the q115/q139 bench drifts traced the erratic 3-16 s spikes to
    // exactly that serial stage (TriDebug: s260=15.7s/1t on a quiet
    // box vs <0.8 s steady-state) — a one-vCPU hiccup stalls the
    // whole serial parse, while 32 spread tasks absorb it. At scale
    // the condition is false (many row groups) and this is a no-op.
    spread(s, norm, s"$d/events")
  }
  /** The testdata parquet files are written as a single row group, so
    * byte-range file splitting cannot parallelize the scan: every
    * downstream map stage (tokenize / explode / signature) would run
    * on ONE core regardless of cluster size. The round-7 fix was an
    * inline `repartition(target)` — correct, but it made EVERY
    * consumer of the table pay a full-frame shuffle per query
    * (~0.15-0.3 s x ~200 light queries per bench session). Since
    * round 11 the layout is fixed ONCE per (path, mtime, target):
    * the first consumer writes a multi-split parquet copy under the
    * JVM's temp dir (what a production pipeline does to a
    * badly-laid-out input — rewrite the layout, not re-shuffle per
    * read), and every later read scans the copy with full split
    * parallelism and ZERO extra exchange in its plan. On a
    * production layout (many files / row groups per table) the
    * condition is false and this is a no-op: no copy, no exchange,
    * nothing at 100 TB. The copy also inherits any normalization the
    * caller applied first (events' ts widening), so re-reads skip it.
    * `df` is by-name: only the first call, which writes the copy (or
    * finds the layout fine), builds and analyzes the source frame.
    *
    * CONTRACT: keyed on (path, mtime, size, target) — a testdata
    * regeneration under the same path gets a fresh copy; the copy
    * directory lives for the JVM's lifetime (temp-dir hygiene is the
    * OS's past that). Concurrent first consumers in one JVM
    * serialize on the memo; separate JVMs write separate copies.
    */
  private def spread(s: SparkSession, df: => DataFrame, key: String): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val src = new java.io.File(key + ".parquet")
    val fp = s"${src.length}:${src.lastModified / 1000}:$target"
    val memoKey = s"$key@$fp"
    lazy val frame = df
    val copy = spreadCopies.computeIfAbsent(memoKey, { _ =>
      // one driver-side plan cycle decides whether the scan already
      // yields enough splits (production layout: yes -> no-op)
      if (frame.rdd.getNumPartitions >= target) ""
      else {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_spread_").toString
        frame.repartition(target).write.mode("overwrite").parquet(dir)
        dir
      }
    })
    if (copy.isEmpty) frame else read(s, copy)
  }

  // (memoKey -> copy dir, "" = layout already fine). JVM-global on
  // purpose: the copy is keyed by file identity + target, not by
  // session, so test suites and benches in one JVM share it.
  private val spreadCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "documents"), s"$d/documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "embeddings"), s"$d/embeddings")

  /** Eager one-pass materialization of a persisted frame (see
    * Dedup.q25's race note for WHY eager: two downstream consumers
    * inside one job would otherwise race to compute-and-cache the
    * same partitions). Unlike `count()`, this consumes the
    * internal-row iterator directly — no aggregate plan, no
    * per-partition count shuffled to the driver for a number nobody
    * reads. Cache population happens as the iterator is drained, so
    * the drain must be complete (`foreach`), not just iterator
    * creation.
    */
  def touch(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
}
