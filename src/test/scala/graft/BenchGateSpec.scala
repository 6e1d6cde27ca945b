package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The structural bench-drift gate (round-10): BenchDiff's artifact
  * and Bench's unadjudicated parse are the two halves of the
  * refuse-to-ship-dirty loop — pin them against synthetic
  * detail/baseline pairs so the gate itself is tested, not just
  * exercised when a drift happens to occur.
  */
class BenchGateSpec extends AnyFunSuite {

  private def detail(qs: (String, Double)*): String =
    detailRuns(qs.map { case (k, v) => (k, v, Seq(v, v, v)) }: _*)

  private def detailRuns(qs: (String, Double, Seq[Double])*): String = {
    val queries = qs.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")
    val runs = qs.map { case (k, _, rs) =>
      s""""$k":{"start_s":1.0,"runs":${rs.mkString("[", ",", "]")}}"""
    }.mkString(",")
    s"""{"metric":"total","value":1,"unit":"sec","queries":{$queries},""" +
      s""""sf":"x","runs":{$runs},"meta":{"cpus":4,"data":{"hash":"h1","bytes":1}}}"""
  }

  test("slower drifts with no adjudication parse back as unadjudicated; improvements and noise do not") {
    val dir = Files.createTempDirectory("benchgate")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    // q_slow: 2x slower (0.5 -> 1.0, abs 0.5 > 0.15) -> unadjudicated
    // q_fast: 2x faster -> status improvement, never retried
    // q_tiny: 2x slower but 0.04 -> 0.08 sits under the 0.15 s noise
    //         floor -> not a drift at all
    // q_flat: unchanged -> not a drift
    Files.writeString(cur, detail(
      "q_slow" -> 1.0, "q_fast" -> 0.5, "q_tiny" -> 0.08, "q_flat" -> 1.0))
    Files.writeString(base, detail(
      "q_slow" -> 0.5, "q_fast" -> 1.0, "q_tiny" -> 0.04, "q_flat" -> 1.0))
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "drifts") == Seq("q_slow"))
    // the artifact itself counts the same way (the judge-facing field)
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    assert(n.get("n_unadjudicated").asInt() == 1, n.toString)
    assert(n.at("/drifts/q_fast/status").asText() == "improvement")
    assert(n.at("/drifts/q_tiny").isMissingNode)
    assert(n.at("/drifts/q_flat").isMissingNode)
  }

  test("an adjudication entry silences its drift; a missing diff parses clean") {
    // BenchDiff reads the repo-root BENCH_ADJUDICATIONS.json, whose
    // real entries include q115_triangle_count — reuse it as the
    // adjudicated name so the test needs no fixture mutation
    val dir = Files.createTempDirectory("benchgate2")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    Files.writeString(cur, detail("q115_triangle_count" -> 1.0))
    Files.writeString(base, detail("q115_triangle_count" -> 0.5))
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "drifts").isEmpty)
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    assert(n.get("n_drifts").asInt() == 1)
    assert(n.get("n_unadjudicated").asInt() == 0)
    assert(n.at("/drifts/q115_triangle_count/status").asText()
      .startsWith("ADJUDICATED"))
    // gate robustness: absent artifact = clean (BenchDiff failures
    // are reported separately at the call site)
    assert(Bench.unadjudicatedIn(dir.resolve("nope.json").toString, "drifts").isEmpty)
    // ...but PRESENT-and-unparseable = DIRTY (round-11 advice: a
    // truncated BENCH_DIFF must never read as a clean gate). The
    // marker names no query, so the retry pass skips it and only the
    // loud ship path sees it.
    val garbage = dir.resolve("garbage.json")
    Files.writeString(garbage, """{"drifts": {"q_x": truncated""")
    assert(Bench.unadjudicatedIn(garbage.toString, "drifts") ==
      Seq(Bench.DiffUnparseable))
    assert(Bench.unadjudicatedIn(garbage.toString, "spreads") ==
      Seq(Bench.DiffUnparseable))
  }

  test("spread gate: >3x intra-session spread on multi-second queries flags; sub-second and adjudicated do not") {
    val dir = Files.createTempDirectory("benchgate3")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    // q_var: min 1.0 but one 5.0 run -> spread 5x on a multi-second
    //        query -> unadjudicated spread
    // q_small: same 5x spread but min 0.1 (sub-second) -> ignored
    // q_tight: multi-second, 1.5x spread -> ignored
    // q217_incremental_cc: a real adjudication key "<q>:spread" in
    //        the repo BENCH_ADJUDICATIONS silences it (added round-11)
    Files.writeString(cur, detailRuns(
      ("q_var", 1.0, Seq(5.0, 1.0, 1.2)),
      ("q_small", 0.1, Seq(0.5, 0.1, 0.1)),
      ("q_tight", 2.0, Seq(2.0, 3.0, 2.5)),
      ("q217_incremental_cc", 1.0, Seq(5.0, 1.0, 1.0))))
    Files.writeString(base, detailRuns(
      ("q_var", 1.0, Seq(1.0, 1.0, 1.0)),
      ("q_small", 0.1, Seq(0.1, 0.1, 0.1)),
      ("q_tight", 2.0, Seq(2.0, 2.0, 2.0)),
      ("q217_incremental_cc", 1.0, Seq(1.0, 1.0, 1.0))))
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "spreads") == Seq("q_var"))
    // ratio gate unaffected: no min moved, so no drift rows at all
    assert(Bench.unadjudicatedIn(out.toString, "drifts").isEmpty)
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    assert(n.get("n_spreads").asInt() == 2, n.toString)
    assert(n.get("n_spread_unadjudicated").asInt() == 1, n.toString)
    assert(n.at("/spreads/q_small").isMissingNode)
    assert(n.at("/spreads/q_tight").isMissingNode)
    assert(n.at("/spreads/q217_incremental_cc/status").asText()
      .startsWith("ADJUDICATED"))
  }

  test("retry merge: min re-derives from merged runs; crashes and failed rows stay put") {
    val loops = Map.empty[String, Long]
    val results = Seq(
      ("q_drift", 1.0, Seq(1.0, 1.2, 1.1), 5.0, loops),  // retried, dissolves
      ("q_real", 1.0, Seq(1.0, 1.1, 1.0), 6.0, loops),   // retried, survives
      ("q_crash", 1.0, Seq(1.0, 1.0, 1.0), 7.0, loops),  // retry crashes
      ("q_failed", -1.0, Seq(-1.0, 2.0, 2.0), 8.0, loops), // main pass failed
      ("q_other", 0.4, Seq(0.4, 0.5, 0.4), 9.0, loops))  // not named
    val reruns = scala.collection.mutable.ArrayBuffer.empty[String]
    val merged = Bench.mergeRetries(results,
      Seq("q_drift", "q_real", "q_crash", "q_failed"),
      {
        case n @ "q_drift" => reruns += n; Seq(0.3, 0.35, 0.4) // transient: tail is fast
        case n @ "q_real" => reruns += n; Seq(1.0, 1.1, 1.0)   // regression: floor holds
        case n @ "q_crash" => reruns += n; Seq(0.2, -1.0, 0.2) // a crash mid-retry
        case n => reruns += n; Seq(0.1, 0.1, 0.1)
      }).map(r => r._1 -> r).toMap
    // a failed main pass is NEVER retried (its -1 must survive as-is)
    assert(reruns.toSet == Set("q_drift", "q_real", "q_crash"))
    assert(merged("q_drift")._2 == 0.3 && merged("q_drift")._3.size == 6)
    assert(merged("q_real")._2 == 1.0 && merged("q_real")._3.size == 6)
    // the crash keeps the ORIGINAL row: timing, runs, everything
    assert(merged("q_crash") == results(2))
    assert(merged("q_failed") == results(3))
    assert(merged("q_other") == results(4))
    // start offsets and loop counts ride through untouched
    assert(merged("q_drift")._4 == 5.0 && merged("q_drift")._5 == loops)
  }

  test("adjudication staleness: with a pinned-round baseline, pre-pin adjudications read as unadjudicated; current ones still silence") {
    val dir = Files.createTempDirectory("benchgate4")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    // q115_triangle_count carries a real repo adjudication
    // "ADJUDICATED r13 ..."; against a baseline pinned in r15 it must
    // no longer silence. q186_personalized_pr carries "ADJUDICATED
    // r14" — also pre-r15, also stale. (Fixture baselines WITHOUT
    // pin_round keep the old always-silence behavior — pinned by the
    // earlier adjudication test in this spec.)
    Files.writeString(cur, detail("q115_triangle_count" -> 1.0))
    // hand-build a baseline with meta.pin_round = 15
    Files.writeString(base,
      """{"metric":"total","value":1,"unit":"sec",""" +
        """"queries":{"q115_triangle_count":0.5},"sf":"x",""" +
        """"meta":{"pin_round":15,"cpus":4,"data":{"hash":"h1","bytes":1}}}""")
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    val status = n.at("/drifts/q115_triangle_count/status").asText()
    assert(status.startsWith("unadjudicated (stale adjudication: r13 predates baseline pin r15"),
      status)
    // the stale text is preserved after the marker for the auditor
    assert(status.contains("ADJUDICATED r13"), status)
    // ...and the gate parse counts it dirty, so it flows to retry/loud
    assert(Bench.unadjudicatedIn(out.toString, "drifts") == Seq("q115_triangle_count"))
    assert(n.get("n_unadjudicated").asInt() == 1, n.toString)
    // an adjudication at or after the pin round still silences: pin
    // round 13 makes the same entry current
    Files.writeString(base,
      """{"metric":"total","value":1,"unit":"sec",""" +
        """"queries":{"q115_triangle_count":0.5},"sf":"x",""" +
        """"meta":{"pin_round":13,"cpus":4,"data":{"hash":"h1","bytes":1}}}""")
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "drifts").isEmpty)
    val n2 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    assert(n2.at("/drifts/q115_triangle_count/status").asText()
      .startsWith("ADJUDICATED r13"))
  }

  test("adjudication staleness: variant markers (ADJUDICATED+FIXED rN) are round-parsed too") {
    // the real corpus entry q219_takedown_dedup:spread reads
    // "ADJUDICATED+FIXED r12 ..." — the plain \s+ pattern never
    // matched the "+FIXED" suffix, so the entry could never go stale
    // against a newer pin (round-16 advice item 2). Against a
    // pin_round-15 baseline it must now read stale; against an old
    // (r12) pin it still silences.
    val dir = Files.createTempDirectory("benchgate5")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    Files.writeString(cur, detailRuns(
      ("q219_takedown_dedup", 1.0, Seq(5.0, 1.0, 1.0))))
    Files.writeString(base,
      """{"metric":"total","value":1,"unit":"sec",""" +
        """"queries":{"q219_takedown_dedup":1.0},"sf":"x",""" +
        """"meta":{"pin_round":15,"cpus":4,"data":{"hash":"h1","bytes":1}}}""")
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "spreads") ==
      Seq("q219_takedown_dedup"))
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    val status = n.at("/spreads/q219_takedown_dedup/status").asText()
    assert(status.startsWith(
      "unadjudicated (stale adjudication: r12 predates baseline pin r15"), status)
    assert(status.contains("ADJUDICATED+FIXED r12"), status)
    // same entry against a pin at-or-before its round still silences
    Files.writeString(base,
      """{"metric":"total","value":1,"unit":"sec",""" +
        """"queries":{"q219_takedown_dedup":1.0},"sf":"x",""" +
        """"meta":{"pin_round":12,"cpus":4,"data":{"hash":"h1","bytes":1}}}""")
    BenchDiff.main(Array(cur.toString, base.toString, out.toString))
    assert(Bench.unadjudicatedIn(out.toString, "spreads").isEmpty)
  }

  test("BenchPin: sessions lacking /sf or /meta/data pin to null fields, not malformed JSON") {
    // round-16 advice item 3: a MissingNode stringifies to "", which
    // produced "sf":, — invalid JSON that BenchDiff then failed to
    // parse. Both fields now route through the same null fallback as
    // the per-session meta fields.
    val dir = Files.createTempDirectory("benchpin2")
    val s1 = dir.resolve("s1.json"); val s2 = dir.resolve("s2.json")
    val out = dir.resolve("pin.json")
    // fingerprint present (required) but no /sf and no other meta
    def bare(p: java.nio.file.Path): Unit = Files.writeString(p,
      """{"metric":"total","value":1,"queries":{"q_a":1.0},""" +
        """"meta":{"data":{"hash":"h1","bytes":1}}}""")
    bare(s1); bare(s2)
    BenchPin.main(Array(out.toString, "16", s1.toString, s2.toString))
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out)) // parse itself is the assertion
    assert(n.at("/sf").isNull, n.toString)
    assert(n.at("/queries/q_a").asDouble() == 1.0)
    // and a session missing /meta/data entirely is a fingerprint
    // error (exercised by the main spec) — but /sf-only absence must
    // never corrupt the artifact
  }

  // (the fingerprint-DISAGREEMENT path sys.exits and is not testable
  // in-JVM; the agreement path plus the hard-exit code are short
  // enough to review directly)
  test("BenchPin: median of per-session minima, condition meta, BenchDiff-consumable output") {
    val dir = Files.createTempDirectory("benchpin")
    def session(path: java.nio.file.Path, hash: String, qs: (String, Double)*): Unit = {
      val queries = qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      Files.writeString(path,
        s"""{"metric":"total","value":9.9,"unit":"sec","queries":{$queries},""" +
          s""""sf":"x","meta":{"cpus":4,"load_avg":1.5,"steal_session_s":0.2,""" +
          s""""iowait_session_s":0.1,"wall_s":100.0,""" +
          s""""data":{"hash":"$hash","bytes":1}}}""")
    }
    val s1 = dir.resolve("s1.json"); val s2 = dir.resolve("s2.json")
    val s3 = dir.resolve("s3.json"); val out = dir.resolve("pin.json")
    // q_a: 1.0/3.0/2.0 -> median 2.0 (one lucky 1.0 cannot pin);
    // q_b: in two sessions only -> median of those; q_crash: -1 in
    // one session is excluded from the median
    session(s1, "h1", "q_a" -> 1.0, "q_b" -> 5.0, "q_crash" -> -1.0)
    session(s2, "h1", "q_a" -> 3.0, "q_b" -> 4.0, "q_crash" -> 2.0)
    session(s3, "h1", "q_a" -> 2.0)
    BenchPin.main(Array(out.toString, "15", s1.toString, s2.toString, s3.toString))
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out))
    assert(n.at("/queries/q_a").asDouble() == 2.0, n.toString)
    assert(n.at("/queries/q_b").asDouble() == 4.5, n.toString)
    assert(n.at("/queries/q_crash").asDouble() == 2.0, n.toString)
    assert(n.at("/meta/pin_round").asInt() == 15)
    assert(n.at("/meta/n_sessions").asInt() == 3)
    assert(n.at("/meta/sessions/0/load_avg").asDouble() == 1.5)
    assert(n.at("/meta/data/hash").asText() == "h1")
    assert(n.at("/meta/cpus").asInt() == 4, n.toString)
    assert(n.at("/meta/sf").asText() == "x", n.toString)
    // value = sum of pinned medians
    assert(math.abs(n.at("/value").asDouble() - (2.0 + 4.5 + 2.0)) < 1e-6)
    // the pinned artifact is BenchDiff-consumable as a baseline
    val cur = dir.resolve("cur.json"); val diff = dir.resolve("diff.json")
    Files.writeString(cur, detail("q_a" -> 2.0, "q_b" -> 4.5, "q_crash" -> 2.0))
    // fingerprint differs (detail fixture uses h1 too) -> data_changed false
    BenchDiff.main(Array(cur.toString, out.toString, diff.toString))
    val d = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(diff))
    assert(d.get("n_compared").asInt() == 3, d.toString)
    assert(d.get("n_drifts").asInt() == 0, d.toString)
    assert(!d.get("data_changed").asBoolean())
    assert(d.get("comparable").asBoolean(), d.toString)
  }

  test("BenchDiff refuses a baseline without cpus, or with another CPU count or scale factor") {
    val dir = Files.createTempDirectory("benchgate6")
    val cur = dir.resolve("cur.json")
    val base = dir.resolve("base.json")
    val out = dir.resolve("diff.json")
    // q_slow would be an unadjudicated 2x drift on a comparable pair;
    // q_var is an intra-session spread, which needs no baseline
    Files.writeString(cur, detailRuns(
      ("q_slow", 1.0, Seq(1.0, 1.0, 1.0)), ("q_var", 1.0, Seq(5.0, 1.0, 1.2))))
    def baseWith(meta: String, sf: String = "x"): Unit = Files.writeString(base,
      s"""{"metric":"total","value":1,"unit":"sec",""" +
        s""""queries":{"q_slow":0.5,"q_var":1.0},"sf":"$sf",""" +
        s""""meta":{$meta"data":{"hash":"h1","bytes":1}}}""")
    def diff(): com.fasterxml.jackson.databind.JsonNode = {
      BenchDiff.main(Array(cur.toString, base.toString, out.toString))
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(out))
    }
    for ((meta, sf, reason) <- Seq(
        ("", "x", "records no cpus"),
        (""""cpus":32,""", "x", "cpus differ"),
        (""""cpus":4,""", "y", "scale factor differs"))) {
      baseWith(meta, sf)
      val d = diff()
      assert(!d.get("comparable").asBoolean(), d.toString)
      assert(d.get("comparable_reason").asText().contains(reason), d.toString)
      assert(d.get("n_drifts").asInt() == 0 && d.get("n_compared").asInt() == 0, d.toString)
      assert(Bench.unadjudicatedIn(out.toString, "drifts").isEmpty)
      assert(Bench.unadjudicatedIn(out.toString, "spreads") == Seq("q_var"))
    }
    // same cpus and sf: the drift row comes back
    baseWith(""""cpus":4,""")
    val d = diff()
    assert(d.get("comparable").asBoolean() && d.get("comparable_reason").isNull, d.toString)
    assert(Bench.unadjudicatedIn(out.toString, "drifts") == Seq("q_slow"))
  }
}
