package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Baseline re-pin from MULTIPLE quiet sessions (round-15, verdict
  * item 4): a baseline pinned from ONE session's min-of-runs embeds
  * per-query luck — the r14 pin held q57 at 0.833 s and q171 at
  * 0.901 s, both ~2x below their cross-session floors, and those two
  * lucky minima generated the round's two biggest paper drifts (rows
  * >1.7x while the session total sat at 1.03x). This main rebuilds
  * `bench_baseline.json` as, per query, the MEDIAN of per-session
  * minima over two-plus quiet sessions at the same HEAD: one outlier
  * session can no longer pin an unreachable floor, while a genuine
  * plan improvement (reproduced in every session) still moves the
  * pin. Each source session's conditions (load, steal, iowait,
  * wall, total) ship in meta.sessions so a future drift
  * adjudication can compare measurement conditions, and
  * meta.pin_round arms BenchDiff's adjudication-staleness rule: an
  * "ADJUDICATED rN" with N < pin_round no longer silences a drift
  * row (its evidence was measured against a baseline that no longer
  * exists).
  *
  * Usage: BenchPin <out> <pin_round> <session1.json> <session2.json> [...]
  * Sessions must agree on the data fingerprint, the CPU count and
  * the scale factor — a pin across a testdata regeneration or two
  * machine shapes would compare incomparable numbers, so that is a
  * hard error. The pin's meta records `cpus` and `sf`.
  */
object BenchPin {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: BenchPin <out> <pin_round> <session1.json> <session2.json> [...]")
      sys.exit(2)
    }
    val out = args(0)
    val pinRound = args(1).toInt
    val sessionPaths = args.drop(2).toSeq
    val m = new ObjectMapper()
    val sessions = sessionPaths.map { p =>
      p -> m.readTree(Files.readString(Paths.get(p)))
    }
    val fps = sessions.map { case (p, n) =>
      p -> n.at("/meta/data/hash").asText("unrecorded")
    }
    if (fps.map(_._2).distinct.size != 1 || fps.head._2 == "unrecorded") {
      System.err.println(s"[benchpin] data fingerprints disagree or unrecorded: $fps")
      sys.exit(1)
    }
    // one pin = one CPU count and one scale factor (BenchDiff refuses
    // to compare across either); a session that records neither pins
    // them as null, which BenchDiff then refuses as unrecorded
    val conds = sessions.map { case (p, n) =>
      p -> (n.at("/meta/cpus").toString, n.at("/sf").toString)
    }
    if (conds.map(_._2).distinct.size != 1) {
      System.err.println(s"[benchpin] sessions disagree on cpus or sf: $conds")
      sys.exit(1)
    }
    def qmap(n: JsonNode): Map[String, Double] =
      n.get("queries").fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    val perSession = sessions.map { case (_, n) => qmap(n) }
    // a crashed row (-1) in any session never contributes a "time"
    val names = perSession.flatMap(_.keySet).distinct.sorted
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val pinned = names.flatMap { q =>
      val vs = perSession.flatMap(_.get(q)).filter(_ >= 0)
      if (vs.isEmpty) None else Some(q -> median(vs))
    }
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.9f", Double.box(v))
    val queries = pinned
      .map { case (q, v) => "\"" + q + "\":" + f3(v) }.mkString("{", ",", "}")
    val total = pinned.map(_._2).sum
    // per-session measurement conditions, for future condition A/Bs
    val sessMeta = sessions.map { case (p, n) =>
      def g(path: String) = {
        val v = n.at(path)
        if (v.isMissingNode) "null" else v.toString
      }
      s"""{"file":"${p.replaceAll("[\\\\\"]", "_")}","total_s":${g("/value")},""" +
        s""""load_avg":${g("/meta/load_avg")},"steal_session_s":${g("/meta/steal_session_s")},""" +
        s""""iowait_session_s":${g("/meta/iowait_session_s")},""" +
        s""""wall_s":${g("/meta/wall_s")}}"""
    }.mkString("[", ",", "]")
    // same missing-node-to-null fallback as the per-session g():
    // a session file lacking /sf or /meta/data would stringify a
    // MissingNode to "", producing malformed baseline JSON
    // ("sf":,) that BenchDiff then fails to parse (round-16 advice
    // item 3)
    def topG(path: String): String = {
      val v = sessions.head._2.at(path)
      if (v.isMissingNode) "null" else v.toString
    }
    val dataNode = topG("/meta/data")
    val sf = topG("/sf")
    val cpus = topG("/meta/cpus")
    val body =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$queries,""" +
        s""""sf":$sf,"meta":{"pin_round":$pinRound,"cpus":$cpus,"sf":$sf,""" +
        s""""agg":"median-of-session-minima",""" +
        s""""n_sessions":${sessions.size},"sessions":$sessMeta,"data":$dataNode}}"""
    Files.writeString(Paths.get(out), body)
    println(s"[benchpin] pinned ${pinned.size} queries (total ${f3(total)} s) " +
      s"from ${sessions.size} sessions -> $out (pin_round=$pinRound)")
  }
}
