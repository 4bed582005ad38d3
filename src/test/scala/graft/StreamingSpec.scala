package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventOps

/** Top-level so Spark can derive an Encoder (inner classes can't). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Structured Streaming specs: the streaming entry points must produce
  * the same results as their batch twins on the same (bounded) data —
  * the core design property of EventOps (one logical transform, two
  * execution modes).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val evs = Seq(
    Ev(0L, ts("2024-01-01 00:05:00"), 1L, "view", 10.0, """{"k": 1}"""),
    Ev(1L, ts("2024-01-01 00:20:00"), 1L, "click", 5.0, """{"k": 2}"""),
    Ev(2L, ts("2024-01-01 00:55:00"), 1L, "view", 2.5, """{"k": 3}"""),
    Ev(3L, ts("2024-01-01 01:10:00"), 2L, "purchase", 99.0, """{"k": 4}"""),
    Ev(4L, ts("2024-01-01 02:30:00"), 1L, "view", 1.0, """{"k": 5}"""),
    Ev(5L, ts("2024-01-01 02:31:00"), 2L, "click", 3.0, """{"k": 6}""")
  )

  private def runStream(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        mode: String): Array[org.apache.spark.sql.Row] = {
    val src = MemoryStream[Ev](spark)
    src.addData(evs)
    val sink = s"stream_sink_${System.identityHashCode(src)}"
    val q = build(src.toDF()).writeStream
      .format("memory").queryName(sink).outputMode(mode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.table(sink).collect()
  }

  test("streaming HLL ingest: register state == batch registers, two staged batches") {
    import graft.streaming.StreamingPipelines
    import graft.operators.CorpusStats
    // value stream in two arrival batches; the update-mode max state
    // must equal the one-shot batch register table over the union
    val b1 = (0L until 300L).map(i => Ev(i, ts("2024-01-01 00:05:00"),
      i % 3, "v", 0.0, s"val${i % 97}"))
    val b2 = (300L until 600L).map(i => Ev(i, ts("2024-01-01 00:06:00"),
      i % 3, "v", 0.0, s"val${i % 131}"))
    val src = MemoryStream[Ev](spark)
    val sink = s"hll_sink_${System.identityHashCode(src)}"
    val q = StreamingPipelines.hllIngest(src.toDF()
        .select(col("user_id").cast("string").as("g"), col("props").as("v")),
        Seq("g"), "v", b = 8)
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table(sink).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val batch = CorpusStats.hllRegisters((b1 ++ b2).toDF()
        .select(col("user_id").cast("string").as("g"), col("props").as("v")),
        Seq("g"), "v", b = 8)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(stream == batch)
    // and the estimate over the streamed registers is the batch estimate
    val estS = CorpusStats.hllEstimate(spark.table(sink), Seq("g"), b = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val estB = CorpusStats.hllEstimate(
        CorpusStats.hllRegisters((b1 ++ b2).toDF()
          .select(col("user_id").cast("string").as("g"), col("props").as("v")),
          Seq("g"), "v", b = 8), Seq("g"), b = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(estS == estB)
  }

  test("streaming tumbling agg matches batch on bounded data") {
    val batch = EventOps.tumblingAgg(evs.toDF(), "1 hour")
      .collect().map(_.toSeq).toSet
    val stream = runStream(EventOps.streamTumblingAgg(_, "1 hour", "10 minutes"), "complete")
      .map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming sessionization matches batch on bounded data") {
    val batch = EventOps.sessionAgg(evs.toDF(), "30 minutes")
      .collect().map(_.toSeq).toSet
    val stream = runStream(EventOps.streamSessionAgg(_, "30 minutes", "10 minutes"), "complete")
      .map(_.toSeq).toSet
    assert(stream == batch)
    // user 1: events at 00:05/00:20 merge (gap 15m); 00:55 and 02:30 are
    // separate sessions (gaps >= 30m) -> 3 sessions.
    assert(batch.count(_.head == 1L) == 3)
  }

  test("asofJoin: inclusive at equal ts, null before first match, per-key isolation") {
    import graft.streaming.EventOps
    val left = Seq(
      (1L, ts("2024-01-01 00:00:00")), // before any right row -> null
      (1L, ts("2024-01-01 01:00:00")), // exactly at right ts -> inclusive
      (1L, ts("2024-01-01 02:30:00")), // between -> latest earlier
      (2L, ts("2024-01-01 05:00:00"))  // other key, no right rows -> null
    ).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 01:00:00"), 10.0),
      (1L, ts("2024-01-01 02:00:00"), 20.0),
      (1L, ts("2024-01-01 03:00:00"), 30.0)
    ).toDF("user_id", "ts", "v")
    val out = EventOps.asofJoin(left, right, Seq("user_id"), "ts", Seq("v"))
      .orderBy("user_id", "ts").collect()
    assert(out.length == 4) // left-asof keeps unmatched rows
    assert(out(0).isNullAt(2))
    assert(out(1).getDouble(2) == 10.0)
    assert(out(2).getDouble(2) == 20.0)
    assert(out(3).isNullAt(2))
  }

  test("asofJoin: a matched right row whose value is NULL attaches NULL, not a stale value") {
    import graft.streaming.EventOps
    // right's latest row at-or-before t=3 carries v=NULL — the as-of
    // result must be that row's NULL, never the OLDER 5.0 (per-column
    // ignoreNulls would skip to it and present a retracted value as
    // current)
    val left = Seq((1L, ts("2024-01-01 03:00:00"))).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 01:00:00"), Some(5.0)),
      (1L, ts("2024-01-01 02:00:00"), None)
    ).toDF("user_id", "ts", "v")
    val out = EventOps.asofJoin(left, right, Seq("user_id"), "ts", Seq("v")).collect()
    assert(out.length == 1 && out(0).isNullAt(2),
      s"expected NULL from the matched row, got ${out(0)}")
  }

  test("dailyUserArgmax: large event_id cannot cross into the next value quantum") {
    import graft.streaming.EventOps
    // with the narrow 1e7 multiplier, B's key (450e7 + 9e8) would beat
    // A's (500e7 + 10) and return the LOWER-valued event's type
    val events = Seq(
      (10L, ts("2024-01-01 01:00:00"), 1L, "big_value", 5.0, "{}"),
      (900000000L, ts("2024-01-01 02:00:00"), 1L, "big_id", 4.5, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.dailyUserArgmax(events).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("top_type") == "big_value", out(0).toString)
    assert(out(0).getAs[Double]("top_value") == 5.0)
  }

  test("intervalJoin: sub-second interval ends keep their boundary bucket") {
    import graft.streaming.EventOps
    // end = 02:00:00.5 — second-truncated bucketing would compute the
    // last covered bucket as hour 1 and silently drop the 02:00:00.3
    // match living in hour bucket 2; also: an inverted interval must
    // not throw (descending sequence) and matches nothing
    val left = Seq(
      (1L, Timestamp.valueOf("2024-01-01 02:00:00.3")),  // inside via fraction
      (1L, Timestamp.valueOf("2024-01-01 02:00:00.7"))   // past end -> excluded
    ).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 00:30:00"), Timestamp.valueOf("2024-01-01 02:00:00.5")),
      (1L, ts("2024-01-01 05:00:00"), ts("2024-01-01 04:00:00")) // inverted
    ).toDF("user_id", "s", "e")
    val out = EventOps.intervalJoin(left, right, Seq("user_id"), "ts", "s", "e")
      .select("ts").collect().map(_.getTimestamp(0).toString)
    assert(out.toSeq == Seq("2024-01-01 02:00:00.3"), out.mkString(","))
  }

  test("intervalJoin: boundary inclusivity and bucket-straddling intervals") {
    import graft.streaming.EventOps
    val left = Seq(
      (1L, ts("2024-01-01 00:59:59")), // inside, last second of bucket 0
      (1L, ts("2024-01-01 01:00:00")), // inside, bucket 1 (interval straddles)
      (1L, ts("2024-01-01 02:00:00")), // == end -> excluded (half-open)
      (1L, ts("2024-01-01 00:30:00")), // == start -> included
      (2L, ts("2024-01-01 01:00:00"))  // wrong key
    ).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 00:30:00"), ts("2024-01-01 02:00:00"))
    ).toDF("user_id", "s", "e")
    val out = EventOps.intervalJoin(left, right, Seq("user_id"), "ts", "s", "e")
      .select("ts").collect().map(_.getTimestamp(0).toString).sorted
    assert(out.toSeq == Seq("2024-01-01 00:30:00.0", "2024-01-01 00:59:59.0",
      "2024-01-01 01:00:00.0"))
  }

  test("stream-stream interval join matches the batch interval join") {
    import graft.streaming.EventOps
    val winRows = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      (2L, ts("2024-01-01 02:00:00"), ts("2024-01-01 03:00:00")))
    val batch = EventOps.intervalJoin(evs.toDF(),
      winRows.toDF("user_id", "w_start", "w_end"),
      Seq("user_id"), "ts", "w_start", "w_end")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("w_start")).as("w_start_s"))
      .collect().map(_.toSeq).toSet
    val esrc = MemoryStream[Ev](spark)
    esrc.addData(evs)
    val wsrc = MemoryStream[(Long, java.sql.Timestamp, java.sql.Timestamp)](spark)
    wsrc.addData(winRows)
    val sink = s"ssj_sink_${System.identityHashCode(esrc)}"
    val q = EventOps.streamIntervalJoin(esrc.toDF(),
      wsrc.toDF().toDF("user_id", "w_start", "w_end"), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val stream = spark.table(sink).collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup: redelivered ids collapse, state bounded by watermark") {
    // duplicate event_ids (an at-least-once source redelivering)
    val withDups = evs ++ Seq(
      Ev(0L, ts("2024-01-01 00:06:00"), 1L, "view", 10.0, """{"k": 1}"""),
      Ev(3L, ts("2024-01-01 01:11:00"), 2L, "purchase", 99.0, """{"k": 4}"""))
    val src = MemoryStream[Ev](spark)
    src.addData(withDups)
    val sink = s"dedup_sink_${System.identityHashCode(src)}"
    val q = EventOps.streamDedup(src.toDF(), "30 minutes").writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table(sink).collect()
    assert(got.length == evs.length) // every duplicate collapsed
    assert(got.map(_.getAs[Long]("event_id")).sorted.toSeq ==
      evs.map(_.event_id).sorted)
  }

  test("streaming corpus ingest: quality gate + fingerprint dedup, stream==batch") {
    import graft.streaming.StreamingPipelines
    import StreamingSpecFixtures.Doc
    val good = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      Doc(1L, ts("2024-01-01 00:10:00"), good),
      Doc(2L, ts("2024-01-01 00:20:00"), good), // exact re-crawl → dedups
      Doc(3L, ts("2024-01-01 00:30:00"), good + " with more words to say"),
      Doc(4L, ts("2024-01-01 00:40:00"), "x x x x x x x x x x x x"), // fails quality
      Doc(5L, ts("2024-01-01 01:15:00"), good + " in the next hour"))
    val src = MemoryStream[Doc](spark)
    val q = StreamingPipelines.corpusIngest(src.toDF())
      .writeStream.format("memory").queryName("corpus_sink")
      .outputMode("append").start()
    try {
      src.addData(docs)
      q.processAllAvailable()
      // close hour-0 by advancing the watermark past it
      src.addData(Seq(Doc(99L, ts("2024-01-01 03:00:00"), good + " closer")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("corpus_sink").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val h0 = ts("2024-01-01 00:00:00").getTime / 1000
    // hour 0: docs 1,3 survive (2 deduped, 4 quality-failed)
    assert(got(h0)._1 == 2L, s"hour-0 rows: $got")
    // batch replay of the same definition agrees
    val batch = StreamingPipelines.corpusIngest(docs.toDF())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batch(h0) == got(h0))
  }

  test("corpus ingest: out-of-order cross-window duplicate counts the same stream vs batch") {
    import graft.streaming.StreamingPipelines
    import StreamingSpecFixtures.Doc
    val good = "the quick brown fox jumps over the lazy dog again and again today"
    // the same content lands in hour 0 AND hour 1, and the LATER copy
    // arrives FIRST. With a bare-fingerprint dedup key the stream keeps
    // the hour-1 copy while the batch twin keeps the hour-0 (min-ts)
    // copy, so per-window counts diverge; with the window folded into
    // the key both paths count one copy in each window.
    val outOfOrder = Seq(
      Doc(11L, ts("2024-01-01 01:10:00"), good), // later window, arrives first
      Doc(10L, ts("2024-01-01 00:50:00"), good), // earlier window, arrives second
      Doc(12L, ts("2024-01-01 00:55:00"), good)) // in-window dup of 10 → collapses
    val src = MemoryStream[Doc](spark)
    val q = StreamingPipelines.corpusIngest(src.toDF())
      .writeStream.format("memory").queryName("corpus_ooo_sink")
      .outputMode("append").start()
    try {
      src.addData(outOfOrder)
      q.processAllAvailable()
      src.addData(Seq(Doc(99L, ts("2024-01-01 04:00:00"), good + " closer")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("corpus_ooo_sink").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = StreamingPipelines.corpusIngest(outOfOrder.toDF())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val h0 = ts("2024-01-01 00:00:00").getTime / 1000
    val h1 = ts("2024-01-01 01:00:00").getTime / 1000
    assert(got(h0) == batch(h0), s"hour-0 stream=$got batch=$batch")
    assert(got(h1) == batch(h1), s"hour-1 stream=$got batch=$batch")
    assert(got(h0)._1 == 1L && got(h1)._1 == 1L)
  }

  test("corpus ingest: whitespace-variant duplicates count the same tokens stream vs batch") {
    import graft.streaming.StreamingPipelines
    import StreamingSpecFixtures.Doc
    val good = "the quick brown fox jumps over the lazy dog again and again today"
    // the fingerprint equates case/outer-whitespace variants, so WHICH
    // variant survives the dedup differs stream (first-arrived) vs
    // batch (min-ts). n_tokens must not care: counting the raw
    // trailing-space variant ("… today ") yields one extra empty
    // token under split(' ') and broke the stream==batch contract.
    val docs = Seq(
      Doc(21L, ts("2024-01-01 00:40:00"), good + " "), // later-ts variant FIRST
      Doc(20L, ts("2024-01-01 00:20:00"), good))       // min-ts clean copy second
    val src = MemoryStream[Doc](spark)
    val sink = s"corpus_ws_sink_${System.identityHashCode(src)}"
    val q = StreamingPipelines.corpusIngest(src.toDF())
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      src.addData(docs)
      q.processAllAvailable()
      src.addData(Seq(Doc(99L, ts("2024-01-01 04:00:00"), good + " closer")))
      q.processAllAvailable()
    } finally q.stop()
    val h0 = ts("2024-01-01 00:00:00").getTime / 1000
    val got = spark.table(sink).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = StreamingPipelines.corpusIngest(docs.toDF())
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(h0) == batch(h0), s"stream=$got batch=$batch")
    assert(got(h0)._1 == 1L) // the variants collapsed to one doc
  }

  test("events loader preserves instants under a non-UTC session timezone and restores it") {
    // the NTZ→Timestamp cast is analyzed under a pinned UTC zone; a
    // non-UTC caller must read the SAME instants (no wall-clock
    // shift) and keep its own session timezone afterwards (the loader
    // must not mutate shared session state as a read side effect)
    def instants(): Map[Long, Long] =
      Tables(spark, sf001, "events")
        .select(col("event_id"), unix_timestamp(col("ts")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val utc = instants()
    val tzKey = "spark.sql.session.timeZone"
    spark.conf.set(tzKey, "America/New_York")
    try {
      val ny = instants()
      assert(spark.conf.get(tzKey) == "America/New_York",
        "events loader mutated the session timezone")
      assert(ny == utc, "events instants shifted under a non-UTC session timezone")
    } finally spark.conf.set(tzKey, "UTC")
  }

  test("watermark drops late data in append mode") {
    val src = MemoryStream[Ev](spark)
    val q = EventOps.streamTumblingAgg(src.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("wm_sink").outputMode("append").start()
    try {
      src.addData(evs.filter(_.event_id <= 3))
      q.processAllAvailable()
      // advance the watermark far past hour 0
      src.addData(Seq(Ev(90L, ts("2024-01-01 06:00:00"), 9L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // this event is 6h late -> dropped by the 30m watermark
      src.addData(Seq(Ev(91L, ts("2024-01-01 00:06:00"), 9L, "late", 7.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_sink").collect()
    assert(!out.exists(_.getString(1) == "late"), s"late row leaked: ${out.mkString(",")}")
    // the closed hour-0 window was emitted exactly once
    assert(out.count(r => r.getLong(0) == ts("2024-01-01 00:00:00").getTime / 1000) >= 1)
  }

  test("stateful mapGroupsWithState: totals accumulate across micro-batches") {
    val src = MemoryStream[Ev](spark)
    val q = EventOps.statefulUserTotals(src.toDF())
      .writeStream.format("memory").queryName("state_sink").outputMode("update").start()
    try {
      src.addData(evs.filter(_.event_id <= 2)) // user 1: 3 events
      q.processAllAvailable()
      src.addData(evs.filter(_.event_id > 2))  // user 1: +1, user 2: +2
      q.processAllAvailable()
    } finally q.stop()
    // Update-mode sink appends one row per (batch, user); the LAST row
    // per user carries the accumulated state across both batches.
    val rows = spark.table("state_sink").collect()
    val last1 = rows.filter(_.getLong(0) == 1L).last
    assert(last1.getLong(1) == 4L, s"user 1 totals: ${rows.mkString(",")}")
    assert(math.abs(last1.getDouble(2) - (10.0 + 5.0 + 2.5 + 1.0)) < 1e-9)
    val last2 = rows.filter(_.getLong(0) == 2L).last
    assert(last2.getLong(1) == 2L)
    assert(math.abs(last2.getDouble(2) - 102.0) < 1e-9)
  }

  test("file-source corpus ingest: landing docs -> gated/deduped window stats -> parquet") {
    import graft.streaming.StreamingPipelines
    import StreamingSpecFixtures.Doc
    val base = tempDir("graft_corpus_stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val good = "the quick brown fox jumps over the lazy dog again and again today"
    val first = Seq(
      Doc(1L, ts("2024-01-01 00:10:00"), good),
      Doc(2L, ts("2024-01-01 00:20:00"), good), // re-crawl, dedups
      Doc(3L, ts("2024-01-01 00:30:00"), good + " with more words to say")).toDF()
    first.write.parquet(inDir)
    val q = StreamingPipelines.corpusIngestToParquet(spark, inDir, first.schema,
      outDir, ckpt)
    try {
      q.processAllAvailable()
      // a later file lands; its event time closes hour 0
      Seq(Doc(9L, ts("2024-01-01 03:00:00"), good + " much later")).toDF()
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
    val h0 = out.filter(col("w_start") === ts("2024-01-01 00:00:00").getTime / 1000)
    assert(h0.count() == 1)
    assert(h0.first().getAs[Long]("n_docs") == 2L) // doc 2 deduped away
  }

  test("file-source pipeline: readStream parquet -> tumbling agg -> parquet sink") {
    import graft.streaming.StreamingPipelines
    val base = tempDir("graft_stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val batch1 = evs.filter(_.event_id <= 3).toDF()
    batch1.write.parquet(inDir)
    val q = StreamingPipelines.tumblingToParquet(spark, inDir, batch1.schema,
      outDir, ckpt, size = "1 hour", lateness = "10 minutes")
    try {
      q.processAllAvailable()
      // a second file lands in the directory -> next micro-batch picks
      // it up and its event time closes the hour-0/1 windows
      evs.filter(_.event_id > 3).toDF()
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
    // hour-0 window (events 0..2) was closed and emitted exactly once
    val hour0 = out.filter(col("bucket_s") === ts("2024-01-01 00:00:00").getTime / 1000)
    assert(hour0.count() >= 1, s"no closed hour-0 rows in ${out.collect().mkString(",")}")
    val viewRow = hour0.filter(col("event_type") === "view").first()
    assert(viewRow.getAs[Long]("n") == 2L)
    assert(math.abs(viewRow.getAs[Double]("sum_value") - 12.5) < 1e-9)
  }

  test("batch sessionization semantics: gap boundary starts new session") {
    val df = Seq(
      Ev(0L, ts("2024-01-01 00:00:00"), 7L, "a", 1.0, "{}"),
      Ev(1L, ts("2024-01-01 00:29:59"), 7L, "b", 1.0, "{}"), // < 30m: same
      Ev(2L, ts("2024-01-01 01:00:00"), 7L, "c", 1.0, "{}")  // >= 30m: new
    ).toDF()
    val sessions = EventOps.sessionAgg(df, "30 minutes").collect()
    assert(sessions.length == 2)
    assert(sessions.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }

  test("q47 repeated in one session drains its staged input again, staging no new copy") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft-q47-in-")).toSet
    val first = SparkEntry.queries("q47_stream_tumbling")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    val before = staged()
    assert(before.nonEmpty, s"q47 staged no graft-q47-in-* dir under $tmpRoot")
    val again = SparkEntry.queries("q47_stream_tumbling")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    assert(staged() == before, s"repeat staged ${staged() -- before}")
    assert(first.nonEmpty && again == first)
  }

  test("q147 deletes its stream sink and checkpoint and keeps the batch twin's rows") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    // the staged input (graft-ingest-in-*) is cached for the session
    def runDirs(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty[String])
        .filter(n => n.startsWith("graft-ingest-") && !n.startsWith("graft-ingest-in-"))
        .toSet
    val before = runDirs()
    val got = SparkEntry.queries("q147_corpus_ingest_stream")(spark, sf001)
    val leaked = runDirs() -- before
    assert(leaked.isEmpty, s"q147 left $leaked under $tmpRoot")
    assert(got.count() == SparkEntry.queries("q139_corpus_ingest")(spark, sf001).count())
  }
}

/** Top-level fixture types (encoders need a TypeTag — method-local
  * case classes don't get one).
  */
object StreamingSpecFixtures {
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
}
