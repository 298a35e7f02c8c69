package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming parity (SURVEY.md §2.9): replay `events.parquet` through a
  * file-source stream; the final tumbling-window / session-window state
  * must equal the batch Q21/Q22 results. */
class StreamingParitySpec extends SparkSpec {

  /** File-source stream of the sf0.001 events table (same pinned schema
    * as Tables.events). */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("events-stream")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def eventsStream: DataFrame = Tables.eventsStream(spark, streamDir)

  private def runToCompletion(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("tumbling 1h window stream state equals batch Q21") {
    val streamed = runToCompletion(
      eventsStream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        // same rounding rule as batch q21 (Rounding.portable): built-in
        // round would diverge on decimal-half-way sums
        .agg(count(lit(1)).as("n"),
          graft.functions.Rounding.portable(sum("value"), 2).as("s")),
      "t21")
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("s"))
    val batch = Queries.q21(sf0001)
    assert(streamed.collect().toSet == batch.collect().toSet)
  }

  test("session_window(30 min) stream state equals batch Q22 sessionization") {
    val streamed = runToCompletion(
      eventsStream
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), min("ts").as("t0"), max("ts").as("t1")),
      "t22")
      .select(col("user_id"), col("t0"), col("t1"), col("n"))
    val batch = Queries.q22(sf0001).select(col("user_id"), col("t0"), col("t1"), col("n"))
    assert(streamed.collect().toSet == batch.collect().toSet)
  }

  test("sliding 1h/15m window stream state equals batch q43") {
    val streamed = runToCompletion(
      graft.streaming.StreamOps.sliding(
        eventsStream, col("ts"), "1 hour", "15 minutes",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n"),
          graft.functions.Rounding.portable(sum("value"), 2).as("s"))),
      "t43")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("s"))
    val batch = CoverageQueries.q43(sf0001)
    assert(streamed.collect().toSet == batch.collect().toSet)
  }

  test("windowed heavy-hitters sketch: stream state equals the batch sketch per window") {
    // cap 64 >> the events fixture's event_type vocabulary, so both
    // sides are EXACT (q124's gating discipline) and row-for-row
    // comparable; the streaming path still exercises the aggregator's
    // mergeable state through the state store + micro-batch merges
    val streamed = runToCompletion(
      graft.streaming.StreamOps.heavyHittersWindowed(
        eventsStream, col("ts"), "1 hour", col("event_type"), cap = 64),
      "thh")
      .select(col("window.start").as("h"), col("token"), col("est"))
    val batch = graft.operators.ApproxOps.heavyHitters(
        sf0001.events, col("event_type"), cap = 64, window(col("ts"), "1 hour"))
      .select(col("window.start").as("h"), col("token"), col("est"))
    val s = streamed.collect().toSet
    assert(s == batch.collect().toSet)
    assert(s.nonEmpty, "fixture must produce at least one windowed counter")
  }

  test("windowed count-min sketch: stream counter matrices are bit-identical to batch") {
    // the CMS matrix is elementwise-additive and fully
    // partitioning-deterministic (unlike MG's under-threshold
    // survivors), so the parity bar is BIT-IDENTITY of the counters
    // per window — the strongest pin the sketch family allows, and it
    // holds at a BINDING width (collisions present, still identical)
    import spark.implicits._
    val streamed = runToCompletion(
      graft.streaming.StreamOps.countMinWindowed(
        eventsStream, col("ts"), "1 hour", col("event_type"), depth = 3, width = 8),
      "tcms")
      .select(col("window.start").as("h"), col("sketch"))
      .as[(java.sql.Timestamp, Seq[Long])].collect().toMap
    val batch = graft.operators.ApproxOps.countMinSketch(
        sf0001.events, col("event_type"), depth = 3, width = 8,
        window(col("ts"), "1 hour"))
      .select(col("window.start").as("h"), col("sketch"))
      .as[(java.sql.Timestamp, Seq[Long])].collect().toMap
    assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
    for ((h, m) <- streamed)
      assert(m == batch(h), s"window $h: counter matrices diverged")
  }

  test("windowed HLL distinct count: streamed estimates equal batch exactly") {
    // HLL++ register merge = element-wise max — associative, commutative
    // and IDEMPOTENT — so unlike a sum-based sketch even replayed or
    // reordered micro-batches cannot move the estimate: parity is plain
    // equality per window
    import spark.implicits._
    val streamed = runToCompletion(
      graft.streaming.StreamOps.distinctCountWindowed(
        eventsStream, col("ts"), "1 hour", col("user_id"), rsd = 0.05),
      "thll")
      .select(col("window.start").as("h"), col("n_distinct"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val batch = graft.operators.ApproxOps.groupApproxDistinct(
        sf0001.events, col("user_id"), rsd = 0.05, window(col("ts"), "1 hour"))
      .select(col("window.start").as("h"), col("n_distinct"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
    for ((h, n) <- streamed) assert(n == batch(h), s"window $h estimate diverged")
    // and the estimate is a real distinct count: within rsd-ish of exact
    val exact = sf0001.events
      .groupBy(window(col("ts"), "1 hour")).agg(countDistinct(col("user_id")).as("n"))
      .select(col("window.start").as("h"), col("n"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    for ((h, n) <- exact)
      assert(math.abs(streamed(h) - n).toDouble / n <= 0.15,
        s"window $h: estimate ${streamed(h)} vs exact $n")
  }

  test("stream-stream interval join pairs equal batch Q23's join") {
    val e1 = eventsStream.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("u1"), col("ts").as("ts1"))
    val e2 = eventsStream.select(col("user_id").as("u2"), col("ts").as("ts2"))
    val joined = graft.streaming.StreamOps.intervalJoin(
      e1, "ts1", "1 hour", e2, "ts2", "1 hour",
      col("u1") === col("u2"), windowSeconds = 600L)
    val q = joined.select(col("event_id"), col("ts2"))
      .writeStream.format("memory").queryName("t23")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t23").collect().toSet

    val b = sf0001.events
    val b1 = b.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("u1"), col("ts").as("ts1"))
    val b2 = b.select(col("user_id").as("u2"), col("ts").as("ts2"))
    val batch = b1.join(b2,
        col("u1") === col("u2") &&
        col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 600 SECONDS"))
      .select(col("event_id"), col("ts2")).collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture must produce at least one joined pair")
  }

  test("sliding window under lateness: streamed state equals batch over the on-time rows") {
    // LateDataSpec pins tumbling-window drop semantics; sliding windows
    // are the harder case because one late row spans SEVERAL windows and
    // the drop is PER WINDOW, not per row: the aggregation filters on
    // window.end vs the watermark, so a late row is dropped from its
    // already-closed windows but STILL lands in any window the watermark
    // has not closed (measured here — an event-time-vs-watermark filter
    // would drop it everywhere). Parity oracle: a driver-side simulation
    // of exactly that rule over the replay schedule.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    def slid(df: DataFrame) = graft.streaming.StreamOps.sliding(
      df.withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "10 minutes"),
      col("ts"), "10 minutes", "5 minutes",
      Seq.empty, Seq(count(lit(1)).as("n"), sum("v").as("s")))
    val q = slid(input.toDF().toDF("sec", "v"))
      .writeStream.format("memory").queryName("slide_late")
      .outputMode("append").start()
    // batch 1: on-time rows + a 1500s row that moves the watermark to 900s
    input.addData((0L, 1L), (120L, 2L), (540L, 3L), (1500L, 4L))
    q.processAllAvailable()
    // batch 2: 125s is late for both its windows; 850s is late even though
    // its second window [600,1200) is still open; 2000s is on time
    input.addData((125L, 50L), (850L, 60L), (2000L, 5L))
    q.processAllAvailable()
    // batch 3: flush — watermark 3400s closes every window through 2000s
    input.addData((4000L, 6L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slide_late")
      .select(col("window.start").cast("long"), col("n"), col("s"))
      .as[(Long, Long, Long)].collect().toSet
    // independent oracle: replay the schedule with the per-window rule.
    // Watermark at each batch = max event time of PRIOR batches - 10 min;
    // a (row, window) contribution survives iff window.end > that
    // watermark; a window is emitted iff window.end <= the final
    // watermark (4000 - 600 = 3400).
    val schedule = Seq(
      0L -> Seq((0L, 1L), (120L, 2L), (540L, 3L), (1500L, 4L)),
      900L -> Seq((125L, 50L), (850L, 60L), (2000L, 5L)),
      1400L -> Seq((4000L, 6L)))
    val contributions = for {
      (wm, rows) <- schedule
      (sec, v) <- rows
      wStart <- (sec / 300 * 300 - 300) to (sec / 300 * 300) by 300
      if wStart + 600 > wm // late-for-this-window contributions dropped
      if wStart + 600 <= 3400 // only flushed windows are in the output
    } yield (wStart, v)
    val expected = contributions.groupBy(_._1).map { case (w, cs) =>
      (w, cs.size.toLong, cs.map(_._2).sum)
    }.toSet
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
    // the discriminating case: 850s arrived behind the 900s watermark, so
    // its [300,900) window (end 900 <= wm) lost it, but the still-open
    // [600,1200) window kept it
    assert(streamed.contains((600L, 1L, 60L)),
      "a late row must still reach its not-yet-closed sliding windows")
    assert(streamed.contains((300L, 1L, 3L)),
      "a late row must be dropped from its already-closed sliding windows")
  }

  test("windowed PSI: streamed per-window rows equal batch psiDrift against the same reference") {
    import graft.operators.TimeSeries
    import graft.streaming.StreamOps
    // reference = the whole batch value column; the stream monitors
    // 7-day windows against the persisted edge artifact. Parity is
    // ROW-FOR-ROW equality with the batch operator run per window slice
    // — same edges, same smoothing rationals, same term dag.
    val bins = 8
    val ref = sf0001.events.select(col("value"))
    val (edges, refCounts) = TimeSeries.psiReference(ref, col("value"), bins)
    assert(edges.length == bins - 1 && refCounts.sum ==
      sf0001.events.filter(col("value").isNotNull).count())
    val streamed = runToCompletion(
      StreamOps.psiWindowed(eventsStream, col("ts"), "7 days",
        col("value"), edges, refCounts), "tpsi")
      .select(col("window.start").as("ws"), col("bin"), col("n_ref"),
        col("n_cur"), col("ref_frac"), col("cur_frac"), col("term"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
    val windows = sf0001.events
      .select(window(col("ts"), "7 days").as("w")).distinct()
      .select(col("w.start").as("s"), col("w.end").as("e"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1)))
    assert(windows.length >= 4, s"fixture should span several windows: ${windows.length}")
    val batch = windows.flatMap { case (s, e) =>
      val slice = sf0001.events.filter(col("ts") >= lit(s) && col("ts") < lit(e))
      TimeSeries.psiDrift(ref, slice, col("value"), bins)
        .collect().map(r => (s, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    }.toSet
    assert(streamed == batch,
      s"stream/batch PSI divergence: only-stream=${(streamed diff batch).take(3)} " +
        s"only-batch=${(batch diff streamed).take(3)}")
    // artifact validation is loud
    intercept[IllegalArgumentException](
      StreamOps.psiWindowed(eventsStream, col("ts"), "7 days",
        col("value"), edges.tail, refCounts))
    intercept[IllegalArgumentException](
      StreamOps.psiWindowed(eventsStream, col("ts"), "7 days",
        col("value"), Seq(0.5), Seq(0L, 0L)))
  }

  test("windowed KS: streamed per-window rows equal batch ksBinnedVsReference") {
    import graft.operators.TimeSeries
    import graft.streaming.StreamOps
    // the SAME artifact serves PSI and KS; parity is row-for-row
    // equality with the batch vs-reference form per window slice (the
    // two share one dag by construction — this pins the window plumbing)
    val bins = 8
    val (edges, counts) = TimeSeries.psiReference(
      sf0001.events, col("value"), bins)
    val streamed = runToCompletion(
      StreamOps.ksWindowed(eventsStream, col("ts"), "7 days",
        col("value"), edges, counts), "tks")
      .select(col("window.start").as("ws"), col("n_cur"), col("n_ref"),
        col("d"), col("ks"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val windows = sf0001.events
      .select(window(col("ts"), "7 days").as("w")).distinct()
      .select(col("w.start").as("s"), col("w.end").as("e"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1)))
    val batch = windows.map { case (s, e) =>
      val slice = sf0001.events.filter(col("ts") >= lit(s) && col("ts") < lit(e))
      val r = TimeSeries.ksBinnedVsReference(slice, col("value"), edges, counts)
        .select("n_cur", "n_ref", "d", "ks").collect().head
      (s, r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    }.toSet
    assert(streamed == batch,
      s"stream/batch KS divergence: only-stream=${(streamed diff batch).take(3)} " +
        s"only-batch=${(batch diff streamed).take(3)}")
    intercept[IllegalArgumentException](
      StreamOps.ksWindowed(eventsStream, col("ts"), "7 days",
        col("value"), edges.tail, counts))
  }

  test("watermarked windowed stream (1h watermark) still converges to batch Q21 counts") {
    val streamed = runToCompletion(
      eventsStream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "t21w")
      .select(col("window.start").as("h"), col("event_type"), col("n"))
    val batch = Queries.q21(sf0001).select(col("h"), col("event_type"), col("n"))
    assert(streamed.collect().toSet == batch.collect().toSet)
  }
}
