package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.model.{ControlEvent, Hysteresis}

/** One emitted transition of the thermostat replay. */
final case class Emitted(user_id: Long, event_id: Long, action: Int)

/** Queries over the `events` table — the batch analogs of the
  * reference's streaming capabilities (SURVEY.md §2.2): the keyed
  * hysteresis fold (the REF heart), sessionization, tumbling time
  * buckets, JSON extraction, streaming-dedup analog, moving windows.
  */
object Events {

  // ---------------------------------------------------------------
  // q16: FLAGSHIP — replay the reference's dynamically-controlled
  // stream in batch form. `purchase` events act as the control stream
  // (TemperatureControl with desired = value, deltas = 5); all other
  // events act as the sensor stream (temperature = value). Per key the
  // hysteresis + transition-dedup state machine is folded in (ts,
  // event_id) order — identical semantics to the reference's
  // mapGroupsWithState (reference:
  // sparkcontroller/.../SparkStructuredController.scala:96-118).
  //
  // Scale: groupByKey + flatMapSortedGroups gives a spillable
  // secondary sort (no in-memory group materialization) — one shuffle
  // by key, then a streaming per-key fold. event_id is unique and
  // monotone in ts (verified for the testdata), so it is the sort key.
  // ---------------------------------------------------------------
  def q16ControlActions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select(
      col("user_id").as("sensorID"),
      col("event_id").as("seq"),
      when(col("event_type") === "purchase", lit("control"))
        .otherwise(lit("data")).as("kind"),
      when(col("event_type") =!= "purchase", col("value"))
        .otherwise(lit(0.0)).as("temperature"),
      when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0)).as("desired"),
      lit(5.0).as("upDelta"),
      lit(5.0).as("downDelta")).as[ControlEvent]
    ev.groupByKey(_.sensorID)
      .flatMapSortedGroups(col("seq")) { (uid: Long, it: Iterator[ControlEvent]) =>
        Hysteresis.replay(it).map { case (seq, a) => Emitted(uid, seq, a) }
      }
      .toDF()
      .orderBy("user_id", "event_id")
  }

  val q16Sql: String =
    """WITH ctl AS (
      |  SELECT event_id, user_id, event_type, value,
      |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS desired
      |  FROM events
      |), acts AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN value > desired + 5 THEN 1
      |         WHEN value < desired - 5 THEN 0
      |         ELSE -1 END AS action
      |  FROM ctl WHERE event_type <> 'purchase' AND desired IS NOT NULL
      |), dedup AS (
      |  SELECT user_id, event_id, action,
      |    lag(action) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM acts WHERE action >= 0
      |)
      |SELECT user_id, event_id, action FROM dedup
      |WHERE prev IS NULL OR prev <> action
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  // q17: sessionization — batch analog of session windows (30-minute
  // inactivity gap) via window functions: gap flag -> running sum.
  // Durations in exact microseconds (both engines read the same µs).
  // ---------------------------------------------------------------
  def q17Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    events(s, dir)
      .withColumn("new_s", when(gap.isNull || gap > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val q17Sql: String =
    """WITH flags AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |), sess AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flags
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(event_id) AS first_event_id,
      |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------
  // q18: tumbling time buckets — batch analog of a 1-hour streaming
  // window aggregate, via Spark's window() function. Averages go
  // through exact integer cents so both engines agree bit-for-bit.
  // ---------------------------------------------------------------
  def q18TimeBuckets(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sc"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("event_type"), col("n"),
        // exact half-up avg to 4dp in int64 (float division would
        // disagree across engines on .00005 boundaries)
        (Relational.ldiv(lit(200L) * col("sc") + col("n"), lit(2L) * col("n"))
          / 10000.0).as("avg_value"))
      .orderBy("bucket_start", "event_type")
  }

  val q18Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
      |  event_type, COUNT(*) AS n,
      |  ((200*SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) + COUNT(*)) // (2*COUNT(*))) / 10000.0 AS avg_value
      |FROM events
      |GROUP BY 1, event_type
      |ORDER BY bucket_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q19: JSON extraction from the props column + bucketed aggregate.
  // ---------------------------------------------------------------
  def q19JsonExtract(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events(s, dir)
      .select(col("event_type"), cents.as("cents"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(floor(col("k") / 10.0).cast("int").as("k_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .withColumn("avg_value",
        Relational.ldiv(lit(200L) * col("sc") + col("n"), lit(2L) * col("n")) / 10000.0)
      .drop("sc")
      .orderBy("k_bucket", "event_type")
  }

  val q19Sql: String =
    """SELECT CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INT) / 10.0) AS INT) AS k_bucket,
      |  event_type, COUNT(*) AS n,
      |  ((200*SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) + COUNT(*)) // (2*COUNT(*))) / 10000.0 AS avg_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY k_bucket, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q20: first event per (user, type) — deterministic batch analog of
  // streaming dropDuplicates (keep-first-by-event-id, not arbitrary).
  // ---------------------------------------------------------------
  def q20FirstPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("value").as("first_value"))
      .orderBy("user_id", "event_type")
  }

  val q20Sql: String =
    """SELECT user_id, event_type, event_id AS first_event_id, value AS first_value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                                   ORDER BY event_id) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q21: moving aggregate — 5-row trailing average per user (window
  // frame). Exact integer cents keep both engines bit-identical.
  // ---------------------------------------------------------------
  def q21MovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-4, 0)
    val cents = round(col("value") * 100).cast("long")
    val sc = sum(cents).over(w)
    val n = count(lit(1)).over(w)
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        (Relational.ldiv(lit(200L) * sc + n, lit(2L) * n) / 10000.0).as("mavg5"))
      .orderBy("user_id", "event_id")
  }

  val q21Sql: String =
    """SELECT user_id, event_id,
      |  ((200*SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w + COUNT(*) OVER w)
      |   // (2*(COUNT(*) OVER w))) / 10000.0 AS mavg5
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  // q37: processing-order as-of join — every event enriched with the
  // latest STRICTLY PRIOR purchase value of its user (the general
  // relational form of the reference's latest-value control join).
  // One shuffle by user, one ordered window pass — no join at all:
  // the classic as-of implementation that scales linearly.
  // ---------------------------------------------------------------
  def q37AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .withColumn("ctl",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("asof_setting", round(last(col("ctl"), ignoreNulls = true).over(w), 4))
      .filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"), col("asof_setting"))
      .orderBy("event_id")
  }

  val q37Sql: String =
    """SELECT event_id, user_id, event_type, ROUND(value, 4) AS value,
      |  ROUND(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 4) AS asof_setting
      |FROM events
      |QUALIFY event_type <> 'purchase'
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // q39: skew-safe two-phase (salted) aggregation: phase 1 aggregates
  // (key, salt) partials, phase 2 merges per key — identical result
  // to the direct group-by (which is the oracle), but a hot key's
  // rows spread over 8 reducers instead of one. Exact integer cents
  // keep the re-ordered sums bit-identical.
  // ---------------------------------------------------------------
  def q39SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events(s, dir)
      .select(col("event_type"), cents.as("cents"),
        pmod(col("event_id"), lit(8)).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        round(sum(col("pc")) / 100.0, 4).as("sum_value"))
      .orderBy("event_type")
  }

  val q39Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q43: range (interval) join via time-bucketing: count, per user,
  // the pairs of their events within 5 minutes of each other. A naive
  // inequality join is a nested-loop disaster at scale; bucketing ts
  // into interval-width buckets turns it into an equi-join on
  // (user_id, bucket) with each left row probing its own and the next
  // bucket, then the exact predicate filters — the standard interval
  // join decomposition. Oracle: the direct inequality join (same
  // semantics, different plan).
  // ---------------------------------------------------------------
  def q43RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val winUs = 5L * 60 * 1000000
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    val a = ev.withColumn("bkt", Relational.ldiv(col("us"), lit(winUs)))
    // right side registered in its own and both adjacent buckets: a
    // qualifying pair (|dt| <= W, bucket width W) differs by at most
    // one bucket, so it meets in EXACTLY one cell — a's bucket — and
    // needs no post-join dedup
    val bb = Relational.ldiv(col("us"), lit(winUs))
    val b = ev
      .withColumn("bkt", explode(array(bb - 1, bb, bb + 1)))
      .select(col("user_id"), col("event_id").as("event_id_b"),
        col("us").as("us_b"), col("bkt"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("event_id") < col("event_id_b") &&
        abs(col("us_b") - col("us")) <= winUs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  val q43Sql: String =
    """SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 5*60*1000000
      |GROUP BY a.user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q44: the SAME thermostat semantics as q16, expressed fully
  // declaratively — as-of setting via last_value-ignore-nulls window,
  // hysteresis as a CASE, transition dedup via lag — no typed fold,
  // no object serialization fences, whole plan stays in codegen.
  // Two independent implementations (typed fold q16, relational q44)
  // gated against equivalent oracles. The lag-based dedup needs the
  // action sequence per key, which the window computes in the same
  // shuffle as the as-of join: one exchange total.
  // ---------------------------------------------------------------
  def q44ControlActionsSql(s: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val asofW = byKey.rowsBetween(Window.unboundedPreceding, 0)
    val withSetting = events(s, dir)
      .withColumn("ctl", when(col("event_type") === "purchase", col("value")))
      .withColumn("desired", last(col("ctl"), ignoreNulls = true).over(asofW))
      .filter(col("event_type") =!= "purchase" && col("desired").isNotNull)
    val withAction = withSetting
      .withColumn("action",
        when(col("value") > col("desired") + 5, 1)
          .when(col("value") < col("desired") - 5, 0)
          .otherwise(-1))
      .filter(col("action") >= 0)
    withAction
      .withColumn("prev", lag(col("action"), 1).over(byKey))
      .filter(col("prev").isNull || col("prev") =!= col("action"))
      .select(col("user_id"), col("event_id"), col("action"))
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------
  // q45: exact median per group without a full sort: the two middle
  // rows by row_number over exact integer cents, averaged in int64
  // (half-up e4) — deterministic in both engines, unlike interpolated
  // percentile built-ins whose float paths differ.
  // ---------------------------------------------------------------
  def q45MedianValue(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val ranked = events(s, dir)
      .select(col("event_type"), col("event_id"), cents.as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // middle rows: rn in {(n+1)/2, (n+2)/2} (same row twice when odd)
    ranked
      .filter(col("rn") === Relational.ldiv(col("n") + 1, lit(2L)) ||
        col("rn") === Relational.ldiv(col("n") + 2, lit(2L)))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), sum(col("cents")).as("mid_sum"),
        count(lit(1)).as("n_mid"))
      .select(col("event_type"), col("n"),
        (Relational.ldiv(lit(200L) * col("mid_sum") + col("n_mid"),
          lit(2L) * col("n_mid")) / 10000.0).as("median_value"))
      .orderBy("event_type")
  }

  val q45Sql: String =
    """WITH ranked AS (
      |  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY CAST(ROUND(value * 100, 0) AS BIGINT), event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_type, MAX(n) AS n,
      |  ((200*SUM(cents) + COUNT(*)) // (2*COUNT(*))) / 10000.0 AS median_value
      |FROM ranked
      |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q123: session_window in BATCH — the engine-native sessionization
  // primitive (the same expression EventTimeStreamSpec exercises on a
  // stream) applied to the events table: one groupBy, no window-pass
  // + running-sum construction (q17's hand-built twin). The oracle
  // replays the identical gap rule declaratively, pinning that
  // Spark's native session assignment matches the definitional one —
  // start = first ts, end = last ts + gap, events merge only while
  // consecutive gaps stay STRICTLY under 30 min: session_window
  // merges on overlap of half-open [ts, ts+gap) windows, so a gap of
  // exactly 30 minutes starts a NEW session — hence the oracle's
  // >= in the new-session flag.
  // ---------------------------------------------------------------
  def q123SessionWindowBatch(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("first_event_id"))
      .orderBy("user_id", "start_us")

  val q123Sql: String =
    """WITH flags AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, event_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flags
      |)
      |SELECT user_id, MIN(epoch_us(ts)) AS start_us,
      |  MAX(epoch_us(ts)) + 30*60*1000000 AS end_us,
      |  COUNT(*) AS n_events, MIN(event_id) AS first_event_id
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------
  // q124: TWAP — time-weighted average value per (event_type, day):
  // each event's value holds until the next event of the same type
  // that day, so the mean weights values by how long they were
  // current (the metrics/finance standard that a plain AVG gets
  // wrong under irregular sampling). One lead() window pass; the
  // weighted mean is exact int64 — cents × whole-second durations
  // stay far inside the 2^63 envelope (5.6e4 cents × 8.6e4 s/day
  // × ~1e4 rows ≈ 5e13).
  // ---------------------------------------------------------------
  def q124Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val iv = events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("dur_s",
        ((unix_micros(lead(col("ts"), 1).over(w)) -
          unix_micros(col("ts"))) / lit(1000000L)).cast("long"))
      .filter(col("dur_s").isNotNull && col("dur_s") > 0)
    iv.groupBy(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_s")).as("total_dur_s"),
        sum(col("cents") * col("dur_s")).as("swv"))
      // int64 `div`, not ratio4/ldiv: 20000*sum(cents*dur_s) can
      // exceed ldiv's 2^53 double-mantissa bound on denser data (the
      // q129 lesson) — div stays exact for the full int64 range
      .withColumn("twap_cents",
        expr("(20000 * swv + total_dur_s) div (2 * total_dur_s)") / 10000.0)
      .drop("swv")
      .orderBy("event_type", "day")
  }

  val q124Sql: String =
    """WITH iv AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(round(value*100) AS BIGINT) AS cents,
      |    (epoch_us(lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |        ORDER BY ts, event_id))
      |      - epoch_us(ts)) // 1000000 AS dur_s
      |  FROM events
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |  COUNT(*) AS n_intervals,
      |  CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
      |  ((20000*CAST(SUM(cents*dur_s) AS BIGINT) + CAST(SUM(dur_s) AS BIGINT))
      |    // (2*CAST(SUM(dur_s) AS BIGINT))) / 10000.0 AS twap_cents
      |FROM iv WHERE dur_s IS NOT NULL AND dur_s > 0
      |GROUP BY event_type, strftime(day, '%Y-%m-%d')
      |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------
  // q184: MAD (median absolute deviation) ROBUST anomaly audit — the
  // robust twin of q112's rolling z-score: mean/stddev gates are
  // themselves dragged by the outliers they hunt (one 100x spike
  // inflates sigma enough to hide a 10x spike), while the
  // median-of-deviations breaks down only past 50% contamination.
  // Per event_type: med = median(cents), MAD = median(|c - med|),
  // flag |c - med| > 3*MAD. Everything is EXACT int64 via q45's
  // middle-two-rows trick applied TWICE, carrying medians in scaled
  // units so even-count averaging never leaves the integers:
  // med_x2 = 2*median (half-cents), dev2 = |2c - med_x2| (exact),
  // mad_x4 = 2*median(dev2) (quarter-cents), and the flag is the
  // cross-multiplied 2*dev2 > 3*mad_x4. The mad_x4 = 0 degenerate
  // (a majority-constant type) flags every differing row — the
  // textbook MAD behavior, reported rather than special-cased.
  //
  // Scale shape: two rank passes (by cents, then by dev2), BOTH
  // partitioned on event_type — the second reuses the first's
  // exchange; the per-type med/mad tables are type-cardinality and
  // broadcast back. Output is type-cardinality.
  // ---------------------------------------------------------------
  def q184MadAnomaly(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val ev = events(s, dir)
      .select(col("event_type"), col("event_id"), cents.as("cents"))
    def middleMedianX2(df: DataFrame, v: String): DataFrame = {
      // q45's trick: rank, take rows (n+1)/2 and (n+2)/2 (one row
      // twice when odd), then 2*median = 2*mid_sum/n_mid exactly
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(v), col("event_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .filter(col("rn") === Relational.ldiv(col("n") + 1, lit(2L)) ||
          col("rn") === Relational.ldiv(col("n") + 2, lit(2L)))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), sum(col(v)).as("mid_sum"),
          count(lit(1)).as("n_mid"))
        .select(col("event_type"), col("n"),
          Relational.ldiv(lit(2L) * col("mid_sum"), col("n_mid")).as("m2"))
    }
    val med = middleMedianX2(ev, "cents")
      .select(col("event_type"), col("n"), col("m2").as("med_x2"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(lit(2L) * col("cents") - col("med_x2")))
    val mad = middleMedianX2(
      dev.select(col("event_type"), col("event_id"), col("dev2")), "dev2")
      .select(col("event_type"), col("m2").as("mad_x4"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("is_anom", lit(2L) * col("dev2") > lit(3L) * col("mad_x4"))
      .groupBy(col("event_type"))
      .agg(max(col("med_x2")).as("med_x2"), max(col("mad_x4")).as("mad_x4"),
        count(lit(1)).as("n_events"),
        sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anom"),
        max(col("dev2")).as("max_dev2"),
        coalesce(min(when(col("is_anom"), col("event_id"))), lit(-1L))
          .as("first_anom_event"))
      .orderBy("event_type")
  }

  val q184Sql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events
      |), r1 AS (
      |  SELECT event_type, event_id, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev
      |), med AS (
      |  SELECT event_type, MAX(n) AS n,
      |    CAST(2*SUM(cents) // COUNT(*) AS BIGINT) AS med_x2
      |  FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |  GROUP BY event_type
      |), dev AS (
      |  SELECT e.event_type, e.event_id, abs(2*e.cents - m.med_x2) AS dev2
      |  FROM ev e JOIN med m ON m.event_type = e.event_type
      |), r2 AS (
      |  SELECT event_type, event_id, dev2,
      |    row_number() OVER (PARTITION BY event_type ORDER BY dev2, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev
      |), mad AS (
      |  SELECT event_type, CAST(2*SUM(dev2) // COUNT(*) AS BIGINT) AS mad_x4
      |  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |  GROUP BY event_type
      |)
      |SELECT d.event_type,
      |  MAX(m.med_x2) AS med_x2, MAX(a.mad_x4) AS mad_x4,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN 2*d.dev2 > 3*a.mad_x4 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_anom,
      |  MAX(d.dev2) AS max_dev2,
      |  COALESCE(MIN(CASE WHEN 2*d.dev2 > 3*a.mad_x4
      |    THEN d.event_id END), -1) AS first_anom_event
      |FROM dev d
      |JOIN med m ON m.event_type = d.event_type
      |JOIN mad a ON a.event_type = d.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q190: INTER-ARRIVAL latency profile — the telemetry/SLO
  // histogram: per event_type, the exact p50/p90/p99 of the gaps
  // between a user's consecutive events (lag within (type, user) in
  // (ts, event_id) order, microsecond-exact — both engines read the
  // same µs). Percentiles are q90's RANK-CUT form — the smallest gap
  // whose rank reaches P% of the type's gap count, all int64, no
  // interpolation — so a p99 regression in a pipeline's event flow
  // is a hash-level diff, not a float drift. The distributional
  // sibling of q17's sessionization (which thresholds the same gaps
  // at one fixed cutoff) and q184's MAD (level outliers vs arrival
  // cadence).
  //
  // Scale shape: one (event_type, user_id)-keyed window pass
  // computes the gaps; the rank window partitions on event_type
  // only — at 100 TB that second pass is the exact-percentile
  // price, and the documented scale path is a per-type q52-style
  // sketch with this query as its gate. Output is type-cardinality.
  // ---------------------------------------------------------------
  def q190ArrivalProfile(s: SparkSession, dir: String): DataFrame = {
    val wGap = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wGap)))
      .filter(col("gap_us").isNotNull)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("gap_us"), col("event_id"))
    gaps
      .withColumn("r", row_number().over(wRank))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n_gaps"),
        min(when(col("r") * 2 >= col("cnt"), col("gap_us"))).as("p50_us"),
        min(when(col("r") * 10 >= col("cnt") * 9, col("gap_us"))).as("p90_us"),
        min(when(col("r") * 100 >= col("cnt") * 99, col("gap_us"))).as("p99_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy("event_type")
  }

  val q190Sql: String =
    """WITH gaps AS (
      |  SELECT event_type, event_id,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (
      |      PARTITION BY event_type, user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events
      |), r AS (
      |  SELECT event_type, gap_us,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY gap_us, event_id) AS r,
      |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM gaps WHERE gap_us IS NOT NULL
      |)
      |SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n_gaps,
      |  MIN(CASE WHEN r * 2 >= cnt THEN gap_us END) AS p50_us,
      |  MIN(CASE WHEN r * 10 >= cnt * 9 THEN gap_us END) AS p90_us,
      |  MIN(CASE WHEN r * 100 >= cnt * 99 THEN gap_us END) AS p99_us,
      |  MAX(gap_us) AS max_gap_us
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q200: MERGEABLE QUANTILE SKETCH with a side-by-side accuracy
  // audit — the sketch algebra's missing member: HLL counts distinct
  // (q191), Count-Min counts frequency (q170), Misra-Gries holds
  // top-k (q102), MinHash measures similarity (q23); none answers
  // "what is p99?". The sketch (ops.quantileSketch) is the
  // DETERMINISTIC-HASH bottom-sample: keep rows whose md5-derived
  // 28-bit key falls under 1/10 of the space (q47's sampling
  // discipline), estimate p50/p90/p99 by exact rank-cut over the
  // sample (q190's nearest-rank convention), and report the
  // FULL-data rank-cut next to each estimate with the absolute
  // error — the q143/q191 audit-before-trusting rule. Why hash-sample instead of KLL/
  // t-digest: the sample is MERGEABLE BY UNION (shards/epochs merge
  // with zero logic, re-deliveries are idempotent because membership
  // is a pure function of the row id) and the estimate is
  // reproducible bit-for-bit in any engine — the floats-and-buffers
  // sketches are neither. Expected error at 10%: O(1/√(n/10))
  // quantile displacement — audited, not assumed.
  //
  // Scale shape: TWO event_type exchanges (full ranks, sample
  // ranks — the sample one carries 10% of rows); the audit join is
  // type-cardinality. At 100 TB only the SAMPLE branch runs per
  // shard (the full-data branch is the audit you run once to size
  // the rate); the sample unions across shards and re-ranks in one
  // key-bounded pass.
  // ---------------------------------------------------------------
  def q200QuantileSketch(s: SparkSession, dir: String): DataFrame =
    graft.api.ops.quantileSketch(events(s, dir), "event_type",
      col("event_id"), round(col("value") * 100))

  val q200Sql: String = {
    val inS =
      s"CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7) AS BIGINT)" +
        s" < ${(1L << 28) / 10}"
    def cuts(src: String, nName: String, sfx: String): String =
      s"""SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS $nName,
         |  MIN(CASE WHEN r * 2 >= cnt THEN cents END) AS p50_$sfx,
         |  MIN(CASE WHEN r * 10 >= cnt * 9 THEN cents END) AS p90_$sfx,
         |  MIN(CASE WHEN r * 100 >= cnt * 99 THEN cents END) AS p99_$sfx
         |FROM (
         |  SELECT event_type, cents,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY cents, event_id) AS r,
         |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM $src
         |) GROUP BY event_type""".stripMargin
    s"""WITH c AS (
       |  SELECT event_type, event_id,
       |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
       |  FROM events
       |), f AS (
       |${cuts("c", "n_events", "exact")}
       |), sm AS (
       |${cuts(s"(SELECT * FROM c WHERE $inS)", "n_sample", "est")}
       |)
       |SELECT f.event_type, f.n_events, sm.n_sample,
       |  CAST(p.pct AS BIGINT) AS pct,
       |  CASE p.pct WHEN 50 THEN sm.p50_est WHEN 90 THEN sm.p90_est
       |    ELSE sm.p99_est END AS est_cents,
       |  CASE p.pct WHEN 50 THEN f.p50_exact WHEN 90 THEN f.p90_exact
       |    ELSE f.p99_exact END AS exact_cents,
       |  abs(CASE p.pct WHEN 50 THEN sm.p50_est WHEN 90 THEN sm.p90_est
       |        ELSE sm.p99_est END
       |    - CASE p.pct WHEN 50 THEN f.p50_exact WHEN 90 THEN f.p90_exact
       |        ELSE f.p99_exact END) AS err_cents
       |FROM f LEFT JOIN sm USING (event_type),
       |  (VALUES (50), (90), (99)) p(pct)
       |ORDER BY event_type, pct""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_quantile_sketch" -> q200QuantileSketch _,
    "q190_arrival_profile" -> q190ArrivalProfile _,
    "q184_mad_anomaly" -> q184MadAnomaly _,
    "q123_session_window" -> q123SessionWindowBatch _,
    "q124_twap" -> q124Twap _,
    "q45_median_value" -> q45MedianValue _,
    "q44_control_actions_sql" -> q44ControlActionsSql _,
    "q43_range_join" -> q43RangeJoin _,
    "q37_asof_join" -> q37AsofJoin _,
    "q39_salted_agg" -> q39SaltedAgg _,
    "q16_control_actions" -> q16ControlActions _,
    "q17_sessionize" -> q17Sessionize _,
    "q18_time_buckets" -> q18TimeBuckets _,
    "q19_json_extract" -> q19JsonExtract _,
    "q20_first_per_key" -> q20FirstPerKey _,
    "q21_moving_avg" -> q21MovingAvg _)

  val oracles: Map[String, String] = Map(
    "q200_quantile_sketch" -> q200Sql,
    "q190_arrival_profile" -> q190Sql,
    "q184_mad_anomaly" -> q184Sql,
    "q123_session_window" -> q123Sql,
    "q124_twap" -> q124Sql,
    "q45_median_value" -> q45Sql,
    "q44_control_actions_sql" -> q16Sql, // same semantics, same oracle
    "q43_range_join" -> q43Sql,
    "q37_asof_join" -> q37Sql,
    "q39_salted_agg" -> q39Sql,
    "q16_control_actions" -> q16Sql,
    "q17_sessionize" -> q17Sql,
    "q18_time_buckets" -> q18Sql,
    "q19_json_extract" -> q19Sql,
    "q20_first_per_key" -> q20Sql,
    "q21_moving_avg" -> q21Sql)
}
