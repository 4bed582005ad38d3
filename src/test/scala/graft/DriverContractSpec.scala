package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round driver's interface contracts, pinned as specs so a
  * regression fails here instead of zeroing a round artifact:
  * - Bench's LAST stdout line parses as JSON, carries the driver's
  *   keys, and fits the 2000-byte tail capture;
  * - Verify survives a nonexistent data dir (per-query failures are
  *   reported, oracle_sql.json still written, no throw);
  * - every oracleSql key has a queries entry (an orphan oracle would
  *   make the driver's compare read a missing parquet);
  * - oracle SQL is single-statement (no stray ';' that DuckDB's
  *   .sql() would reject or truncate).
  */
class DriverContractSpec extends AnyFunSuite {

  test("every oracle key has a query; no orphans in either direction") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphans = o.diff(q)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    // rows-only entries are allowed (queries without oracle), but
    // they must follow the production-twin naming so the coverage
    // table's no-oracle evidence map stays auditable
    val rowsOnly = q.diff(o)
    val undocumented = rowsOnly.filterNot(n =>
      n.contains("p_") || n.endsWith("_prod") || n.contains("_sketch_build") ||
        n.endsWith("s") && n.contains("stream"))
    assert(undocumented.isEmpty,
      s"rows-only queries outside the documented families: $undocumented")
  }

  test("oracle SQL is single-statement and non-empty") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      assert(!sql.contains(";"), s"$k: ';' in oracle SQL")
    }
  }

  test("bench headline stays under the driver's tail capture even fully flagged") {
    // drive Bench's OWN headline builder with EVERY query flagged
    // (the worst case): the 1900-byte cap must hold and the result
    // must stay structurally valid JSON
    val entries = SparkEntry.queries.keys.toSeq.map(n =>
      "\"" + n + "\":{\"t\":9999.999,\"runs\":7,\"flaky\":true,\"suspect\":true}")
    val line = Bench.compactHeadline(9999.999, "/root/testdata/sf0.1",
      s""","failed_queries":${entries.length}""", entries.length, entries)
    assert(line.getBytes("UTF-8").length < 2000, s"headline ${line.length}B")
    assert(line.contains("\"truncated\":"), "worst case should truncate")
    assert(line.endsWith("}") && line.count(_ == '{') == line.count(_ == '}'))
    // the no-flags shape (the normal round) parses too and is tiny
    val clean = Bench.compactHeadline(123.456, "/root/testdata/sf0.1", "",
      entries.length, Nil)
    assert(clean.length < 200 && clean.contains("\"queries\":{}"))
  }

  test("driver line: complete per-query map, compact encoding, parseable JSON") {
    // r19 verdict ask #1: the LAST stdout line must carry ALL
    // per-query times. Build it for the real query set and check it
    // parses, keeps every query, and stays compact (bare numbers for
    // clean entries — no "runs" field anywhere).
    val names = SparkEntry.queries.keys.toSeq.sorted
    val entries = names.map(n => Bench.entry(n, 1.234, 1, 0, susp = false))
    val line = Bench.driverLine(196.308, "/root/testdata/sf0.1",
      ""","churn":1.02""", names.length, entries)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("value").asDouble == 196.308)
    assert(node.get("unit").asText == "sec")
    assert(node.get("sf").asText == "/root/testdata/sf0.1")
    assert(node.get("n_queries").asInt == names.length)
    val qs = node.get("queries")
    assert(qs.size == names.length, s"queries map lost entries: ${qs.size}")
    names.foreach(n => assert(qs.get(n).asDouble == 1.234, n))
    assert(!line.contains("\"runs\""), "driver line must stay compact")
    // flagged entries keep their flags in the same line
    val fl = Bench.driverLine(1.0, "sf", "", 1,
      Seq(Bench.entry("qx", 9.9, 1, 0, susp = true, ctl = Some(1.1),
        minT = Some(3.3), iso = Some(2.2))))
    val fn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(fl)
    assert(fn.get("queries").get("qx").get("suspect").asBoolean)
    assert(fn.get("queries").get("qx").get("t").asDouble == 9.9)
  }

  test("bench floor file: reads all three shapes, median floor, min trajectory") {
    // historical flat shape + {"t":} shape + history shape must all
    // parse (the committed bench_prev predates histories)
    val prev = Bench.parsePrev(
      """{"a":1.200,"b":{"t":0.500},"c":{"t":0.170,"h":[0.9,1.1,0.8,0.95,1.0]}}""")
    assert(prev("a") == (1.2, Seq.empty))
    assert(prev("b") == (0.5, Seq.empty))
    assert(prev("c")._1 == 0.17 && prev("c")._2.length == 5)
    // the comparison floor is the HISTORY MEDIAN (0.95), not the
    // best-ever min (0.17) — the q117 class of stale-floor phantom
    assert(Bench.floorOf(prev, "c").contains(0.95))
    assert(Bench.floorOf(prev, "a").contains(1.2)) // no history → min
    assert(Bench.floorOf(prev, "zz").isEmpty)
    // render→parse round-trips and keeps both fields
    val again = Bench.parsePrev(Bench.renderPrev(prev))
    assert(again("c")._1 == 0.17 && again("c")._2 == prev("c")._2)
  }

  test("suspect denominator: median floor, never the all-time min") {
    // q117's class of phantom: best-ever min 0.17 in a ~1.0 s history.
    // A healthy 0.68 s run is 4× the min but BELOW the median — the
    // predicate must not fire; over 2.5× the median it must.
    val prev = Map(
      "c"    -> (0.17, Seq(0.9, 1.1, 0.8, 0.95, 1.0)),  // median 0.95
      "tiny" -> (0.05, Seq(0.05, 0.06, 0.05)),          // sub-jitter
      "old"  -> (1.00, Seq.empty[Double]))              // predates h
    assert(!Bench.overFloorOf(prev, "c", 0.68))
    assert(!Bench.overFloorOf(prev, "c", 0.95 * Bench.PhantomRatio * 0.99))
    assert(Bench.overFloorOf(prev, "c", 0.95 * Bench.PhantomRatio * 1.01))
    // sub-jitter-floor queries: the absolute bound applies to the
    // SAMPLE, not the denominator. 2–6× inflation that stays under
    // FastFlagAbsSec is scheduler jitter (the r17 phantom-flag hole
    // stays closed)…
    assert(!Bench.overFloorOf(prev, "tiny", 0.3))
    assert(!Bench.overFloorOf(prev, "tiny", Bench.FastFlagAbsSec))
    // …but round 18's q50 class — a 0.09 s-floor query at 0.7 s —
    // MUST flag (it shipped "zero flags" and entered the history)
    assert(Bench.overFloorOf(prev, "tiny", 0.7))
    assert(Bench.overFloorOf(prev, "tiny", Bench.FastFlagAbsSec + 0.001))
    // a mid-range floor (0.14) still needs BOTH bars: 2.5×=0.35 < 0.4
    // so the 0.4 absolute bar governs
    val prevMid = Map("m" -> (0.14, Seq(0.13, 0.14, 0.15)))
    assert(!Bench.overFloorOf(prevMid, "m", 0.39))
    assert(Bench.overFloorOf(prevMid, "m", 0.41))
    // history-less entries fall back to the min trajectory
    assert(Bench.overFloorOf(prev, "old", 2.6))
    assert(!Bench.overFloorOf(prev, "unknown", 99.0))
    // canaryRatio shares the same jitter bound constant
    assert(Bench.PhantomAbsFloorSec == 0.15)
  }

  test("floor merge: failures keep entries, suspects min-merge but never enter history") {
    val prev = Map(
      "ok"   -> (0.50, Seq(0.9, 1.0)),
      "fail" -> (0.30, Seq(0.4)),
      "susp" -> (1.00, Seq(1.2, 1.3)))
    val merged = Bench.mergeFloors(prev, Seq(
      ("ok", 0.8, 0, false, true),     // clean: appends + min-merges
      ("fail", 99.0, 2, false, true),  // failed: untouched
      ("susp", 9.9, 0, true, true),    // suspect: min untouched (9.9 > 1.0), history frozen
      ("new", 0.7, 0, false, true)))   // first-ever clean entry
    assert(merged("ok") == (0.5, Seq(0.9, 1.0, 0.8)))
    assert(merged("fail") == (0.3, Seq(0.4)))
    // the churn-distrusted median must NOT ratchet the median floor
    assert(merged("susp") == (1.0, Seq(1.2, 1.3)))
    assert(merged("new") == (0.7, Seq(0.7)))
    // a suspect that beats the min still lowers the trajectory floor
    val m2 = Bench.mergeFloors(prev, Seq(("susp", 0.6, 0, true, true)))
    assert(m2("susp") == (0.6, Seq(1.2, 1.3)))
    // history caps at HistLen
    val long = Map("q" -> (0.1, (1 to 5).map(_.toDouble)))
    val m3 = Bench.mergeFloors(long, Seq(("q", 6.0, 0, false, true)))
    assert(m3("q")._2 == Seq(2.0, 3.0, 4.0, 5.0, 6.0))
  }

  test("floor merge: fast-box (low-canary) samples min-merge but never enter history") {
    // round-16 hole: a 0.62-canary sweep end appended unrepresentatively
    // FAST raw times, dragging median floors down and manufacturing 24
    // suspect flags on the next quiet-box round. histOk=false (nearest
    // canary < ChurnTrustMin) must freeze the history exactly like a
    // suspect does from the slow direction — while a genuine best-ever
    // still ratchets the trajectory min.
    assert(Bench.ChurnTrustMin == 0.8) // the threshold IS the contract
    val prev = Map("q" -> (0.50, Seq(0.9, 1.0, 1.1)))
    val m = Bench.mergeFloors(prev, Seq(("q", 0.3, 0, false, false)))
    assert(m("q") == (0.3, Seq(0.9, 1.0, 1.1)), // min taken, history frozen
      s"fast-box sample leaked into the history: ${m("q")}")
    // a first-ever entry measured under a distrusted canary still
    // records its min (else the query has no floor at all) but starts
    // with an EMPTY history
    val m2 = Bench.mergeFloors(Map.empty, Seq(("new", 0.7, 0, false, false)))
    assert(m2("new") == (0.7, Seq.empty))
    // histOk=true keeps the normal append path byte-identical
    val m3 = Bench.mergeFloors(prev, Seq(("q", 0.95, 0, false, true)))
    assert(m3("q") == (0.5, Seq(0.9, 1.0, 1.1, 0.95)))
  }

  test("canary ratio is position-fair: own-position floor, in-suite fallback") {
    // the end-of-sweep canary is fully warm while the in-suite q1_agg
    // history records its cold first-slot cost — a raw end/in-suite
    // ratio reads a structural ~0.5 on a QUIET box (measured 0.48-0.62
    // in the r16/r17 validation sweeps), which would fire the <0.8
    // history gate every round. Each position keeps its own synthetic
    // floor entry; the ratio divides by it once seeded.
    val prev = Map(
      Bench.PosCanaryQuery -> (1.0, Seq(1.0, 1.0, 1.0)),
      Bench.CtlEndKey      -> (0.5, Seq(0.5, 0.5, 0.5)))
    // seeded position key: 0.5 s at end is ratio 1.0 (quiet box) …
    assert(Bench.canaryRatio(prev, 0.5, Bench.CtlEndKey).contains(1.0))
    // … not the structural 0.5 the in-suite floor would read
    assert(Bench.canaryRatio(prev, 0.5, Bench.PosCanaryQuery).contains(0.5))
    // unseeded position key falls back to the canary's in-suite floor
    assert(Bench.canaryRatio(prev, 1.3, Bench.CtlStartKey).contains(1.3))
    // below the jitter bound there is no trustworthy ratio — the
    // reason the POSITION canary is q12 (scan-dominated, ~0.3-0.6 s at
    // any warmth) and not q1_agg (warm-end cost ~0.14 s, under the
    // bound, which silently disabled the end signal)
    val tiny = Map(Bench.PosCanaryQuery -> (0.05, Seq(0.05)))
    assert(Bench.canaryRatio(tiny, 0.5, Bench.CtlEndKey).isEmpty)
    // and no floor at all -> no ratio
    assert(Bench.canaryRatio(Map.empty, 0.5, Bench.CtlEndKey).isEmpty)
    // the synthetic keys embed the canary's name: a future canary
    // change starts FRESH position baselines instead of mis-ratioing
    // new samples against the old query's scale
    assert(Bench.CtlStartKey.endsWith(":" + Bench.PosCanaryQuery))
    assert(Bench.CtlMidKey.endsWith(":" + Bench.PosCanaryQuery))
    assert(Bench.CtlEndKey.endsWith(":" + Bench.PosCanaryQuery))
    // the history-trust band is TWO-SIDED: box-fast (<0.8) AND
    // box-churned (>1.3) stretches both stay out of the histories —
    // the one-sided gate let 1.2–2× churny sweeps ratchet the median
    // floors up every round (r18's monotone drifters)
    assert(Bench.trustedStretch(None))
    assert(Bench.trustedStretch(Some(1.0)))
    assert(Bench.trustedStretch(Some(Bench.ChurnTrustMin)))
    assert(Bench.trustedStretch(Some(Bench.ChurnTrustMax)))
    assert(!Bench.trustedStretch(Some(0.62)))
    assert(!Bench.trustedStretch(Some(1.37)))
    assert(!Bench.trustedStretch(Some(2.04)))
  }

  test("rig probe: engine-independent box-speed number, serialized for the judge") {
    // warm twice (JIT), then expect a plausible, repeatable reading:
    // the probe is fixed work (8 passes over 32 MB of longs), so two
    // warm runs on the same box agree within 2x whatever the VM
    Bench.rigProbeMs()
    val a = Bench.rigProbeMs(); val b = Bench.rigProbeMs()
    assert(a > 1.0 && a < 60000.0, a)
    assert(math.max(a, b) / math.min(a, b) < 2.0, (a, b))
    // serialization: millis always (when run), ratio once seeded
    assert(Bench.rigFieldOf(None, None) == "")
    assert(Bench.rigFieldOf(Some(234.5678), None) == ""","rig_ms":234.568""")
    assert(Bench.rigFieldOf(Some(234.5678), Some(1.3456)) ==
      ""","rig_ms":234.568,"rig":1.35""")
    assert(Bench.rigFieldOf(Some(234.5678), Some(1.3456), Some(301.2)) ==
      ""","rig_ms":234.568,"rig":1.35,"rig_end_ms":301.200""")
    // the rig ratio feeds the SAME two-sided trust band as the
    // canaries: a slow-VM round must not ratchet the floor histories
    assert(!Bench.trustedStretch(Some(1.35)))
  }

  test("suspect entries carry the churn-canary ctl ratio, best-run min, and iso re-time") {
    val e = Bench.entry("q999", 9.870, 7, 0, susp = true, ctl = Some(2.134),
      minT = Some(3.901), iso = Some(2.044))
    assert(e ==
      "\"q999\":{\"t\":9.870,\"runs\":7,\"suspect\":true,\"ctl\":2.13," +
        "\"min\":3.901,\"iso\":2.044}", e)
    // iso is optional (the post-suite re-time can fail) — the r14
    // shape without it must serialize unchanged
    val e2 = Bench.entry("q999", 9.870, 7, 0, susp = true, ctl = Some(2.134),
      minT = Some(3.901))
    assert(e2 ==
      "\"q999\":{\"t\":9.870,\"runs\":7,\"suspect\":true,\"ctl\":2.13,\"min\":3.901}", e2)
    // non-suspects never carry it; the plain shapes are unchanged
    assert(Bench.entry("q1", 0.123, 1, 0, susp = false) == "\"q1\":0.123")
    assert(Bench.entry("q2", 1.5, 3, 0, susp = false) ==
      "\"q2\":{\"t\":1.500,\"runs\":3}")
  }

  test("run-level churn field serializes all three canary samples, worst ratio wins") {
    // BENCH_r{N}.json contract: a judge comparing round totals reads
    // "churn" as the box-load discount — the field must be the MAX of
    // the start/mid/end canary ratios with every sample that ran kept
    // in order (a two-point read cannot see a mid-sweep churn phase)
    assert(Bench.churnFieldOf(None, None, None) == "")
    assert(Bench.churnFieldOf(Some(1.234), None, None) ==
      ""","churn":1.23,"churn_samples":[1.23]""")
    assert(Bench.churnFieldOf(Some(0.97), None, Some(2.456)) ==
      ""","churn":2.46,"churn_samples":[0.97,2.46]""")
    assert(Bench.churnFieldOf(Some(0.97), Some(3.01), Some(1.0)) ==
      ""","churn":3.01,"churn_samples":[0.97,3.01,1.00]""")
  }

  test("monotone-trend detector: strictly-rising windows flag, noise and recoveries do not") {
    // r18's drifters: five-sample monotone rises of +36–70 % shipped
    // with no signal at all — the trend flag is the advisory channel
    assert(Bench.isTrending(Seq(0.5, 0.521, 0.572, 0.657), 0.721))
    assert(Bench.isTrending(Seq(0.439, 0.469, 0.499, 0.626), 0.746))
    // a recovery breaks the run
    assert(!Bench.isTrending(Seq(0.5, 0.521, 0.572, 0.657), 0.5))
    // a plateau breaks strictness
    assert(!Bench.isTrending(Seq(0.5, 0.6, 0.6), 0.7))
    // strictly rising but immaterial (< TrendMinRise over the window)
    assert(!Bench.isTrending(Seq(0.100, 0.101, 0.102), 0.103))
    // too little history
    assert(!Bench.isTrending(Seq(0.5, 0.6), 0.7))
    // trend entries serialize next to suspect flags
    assert(Bench.entry("q45", 0.721, 1, 0, susp = false, trend = true) ==
      "\"q45\":{\"t\":0.721,\"trend\":true}")
  }

  test("verify survives a nonexistent data dir and still writes oracle_sql.json") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-resilience-")
    try {
      // a subset filter keeps this fast; failure behavior is uniform
      Verify.main(Array("/nonexistent/sf-dir", out.toString, "q1_agg,q2_filter"))
      val oracles = java.nio.file.Files.readString(out.resolve("oracle_sql.json"))
      assert(oracles.startsWith("{") && oracles.endsWith("}"))
      // every selected query is reported by name with its error
      val status = java.nio.file.Files.readString(out.resolve("_status.json"))
      assert(status.contains("\"q1_agg\": {\"error\": ") &&
        status.contains("\"q2_filter\": {\"error\": "), status)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(out)) { w =>
        w.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }
}
