package graft.streaming

import graft.plug.{PlugAction, PlugRule, TestSpark}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  behavior of "StreamingOps"

  it should "apply plug rules to a stream unchanged" in {
    implicit val sp = spark
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 5.0),
      Ev(t("2024-01-01 10:01:00"), 2, "click", 50.0))
    val plugged = StreamingOps.plugStream(in.toDF(),
      List(PlugRule("big", "v1", "value > 10", Seq(PlugAction("event_type", "big")))))
    plugged.isStreaming shouldBe true
    StreamingOps.runToMemory(plugged, "plugged_out", OutputMode.Append)
    val rows = spark.table("plugged_out").orderBy("user_id")
      .select("event_type").as[String].collect()
    rows shouldBe Array("click", "big")
  }

  it should "run a first-match chain longer than one codegen region like the batch engine" in {
    implicit val sp = spark
    val evs = (0 until 30).map(i =>
      Ev(t("2024-01-01 10:00:00"), i.toLong, if (i % 3 == 0) "view" else "click", (i * 7 % 100).toDouble))
    val rules = (0 until 40).toList.map(i => PlugRule(s"r$i", "v1",
      s"value > ${i * 2} AND (event_type = 'click' OR user_id % 4 = ${i % 4})",
      Seq(PlugAction("event_type", s"e$i"), PlugAction("value", s"$i.5"))))
    val in = MemoryStream[Ev]
    in.addData(evs: _*)
    val plugged = StreamingOps.plugFirstMatchStream(in.toDF(), rules)
    val q = plugged.writeStream.format("memory").queryName("first_match_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
        .collect { case b: graft.plug.CodegenBoundaryExec => b } should not be empty
    } finally q.stop()
    val batch = graft.plug.SparkPlug.builder.create().plugFirstMatch(evs.toDF(), rules).toOption.get
    spark.table("first_match_out").as[Ev].collect().sortBy(_.user_id) shouldBe
      batch.as[Ev].collect().sortBy(_.user_id)
  }

  it should "aggregate tumbling windows with a watermark" in {
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:55:00"), 2, "click", 2.0),
      Ev(t("2024-01-01 11:05:00"), 3, "click", 4.0))
    val agg = StreamingOps.windowedAgg(in.toDF(), "ts", "event_type", "value", "1 hour", "10 minutes")
    StreamingOps.runToMemory(agg, "win_out", OutputMode.Complete)
    val rows = spark.table("win_out")
      .select(col("w.start").cast("string"), col("n_events"), col("total_value"))
      .orderBy("n_events").collect()
    rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))) shouldBe Array(
      ("2024-01-01 11:00:00", 1L, 4.0),
      ("2024-01-01 10:00:00", 2L, 3.0))
  }

  it should "drop late rows only for windows closed under the watermark" in {
    // batch 1: events at 10:05 and 13:30 -> watermark = 13:30 - 10 min = 13:20
    // batch 2 (late arrivals):
    //   10:30 -> window [10:00, 11:00) ends 11:00 <= 13:20 -> DROPPED
    //   13:05 -> window [13:00, 14:00) ends 14:00 >  13:20 -> ACCEPTED
    // flush at 15:00 pushes the watermark past every window so Append emits
    val in = MemoryStream[Ev]
    val agg = StreamingOps.windowedAgg(in.toDF(), "ts", "event_type", "value",
      "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    in.addData(
      Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 13:30:00"), 2, "click", 2.0))
    q.processAllAvailable()
    in.addData(
      Ev(t("2024-01-01 10:30:00"), 3, "click", 4.0),  // late, closed window
      Ev(t("2024-01-01 13:05:00"), 4, "click", 8.0))  // late, open window
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 15:00:00"), 5, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_out").filter(col("event_type") === "click")
      .select(col("w.start").cast("string"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    rows shouldBe Array(
      ("2024-01-01 10:00:00", 1L, 1.0), // the late 10:30 row did NOT count
      ("2024-01-01 13:00:00", 2L, 10.0)) // the late 13:05 row DID count
  }

  it should "emit unmatched left rows with nulls once the watermark expires them" in {
    // click u1@10:00 matches error u1@10:05; click u2@10:00 has no error.
    // The outer row for u2 must NOT exist until the flush advances the
    // watermark past u2's join window (10:10 + 10 min delay).
    val clicks = MemoryStream[Ev]
    val errors = MemoryStream[Ev]
    clicks.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:00:00"), 2, "click", 2.0))
    errors.addData(Ev(t("2024-01-01 10:05:00"), 1, "error", 9.0))
    val joined = StreamingOps.intervalLeftJoinStreams(
      clicks.toDF().select("user_id", "ts"),
      errors.toDF().select("user_id", "ts", "value"),
      "user_id", "ts", "1 hour", "10 minutes", "10 minutes", Seq("value"))
    val q = joined.writeStream.format("memory").queryName("iloj_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    val before = spark.table("iloj_out")
      .select("user_id", "right_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
    before should contain ((1L, Some(9.0))) // inner match emits promptly
    before.count(_._1 == 2L) shouldBe 0     // outer row still pending
    clicks.addData(Ev(t("2024-01-02 12:00:00"), 99, "flush", 0.0))
    errors.addData(Ev(t("2024-01-02 12:00:00"), 99, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("iloj_out")
      .select("user_id", "right_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    after should contain ((2L, None)) // evicted -> emitted with nulls
  }

  it should "sessionize a stream with native session windows" in {
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:10:00"), 1, "click", 2.0),  // same session (10m < 30m gap)
      Ev(t("2024-01-01 11:30:00"), 1, "click", 4.0),  // new session after 80m gap
      Ev(t("2024-01-01 10:00:00"), 2, "click", 8.0))
    val sess = StreamingOps.sessionAgg(in.toDF(), "ts", "user_id", "30 minutes", "5 minutes")
    StreamingOps.runToMemory(sess, "sess_out", OutputMode.Complete)
    val rows = spark.table("sess_out")
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("w.start").cast("string"))
      .orderBy("user_id", "w.start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0))
  }

  it should "dedup a stream by content fingerprint within the watermark" in {
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "same  text", 1.0),
      Ev(t("2024-01-01 10:01:00"), 2, "SAME TEXT", 2.0), // fingerprint dup
      Ev(t("2024-01-01 10:02:00"), 3, "different text", 3.0))
    val deduped = StreamingOps.dedupStream(in.toDF(), "ts", "event_type", "10 minutes")
    StreamingOps.runToMemory(deduped, "dedup_out", OutputMode.Append)
    val users = spark.table("dedup_out").select("user_id").as[Long].collect().sorted
    // exactly one of the two fingerprint-equal rows survives, plus user 3
    users.length shouldBe 2
    users should contain(3L)
    Set(1L, 2L) should contain(users.min)
  }

  it should "enrich a stream against a broadcast static dimension" in {
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:01:00"), 2, "view", 2.0),
      Ev(t("2024-01-01 10:02:00"), 3, "error", 3.0))
    val dim = Seq(("click", 10.0), ("view", 20.0)).toDF("event_type", "weight")
    val enriched = StreamingOps.enrichWithStatic(in.toDF(), dim, Seq("event_type"))
    enriched.isStreaming shouldBe true
    StreamingOps.runToMemory(enriched, "enrich_out", OutputMode.Append)
    val rows = spark.table("enrich_out")
      .select(col("user_id"), col("weight")).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    rows shouldBe Array((1L, 10.0), (2L, 20.0)) // inner join drops 'error'
  }

  it should "enrich each event with the dim version valid at EVENT time, not the latest" in {
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-05 10:00:00"), 1, "click", 1.0), // v1 window
      Ev(t("2024-01-15 10:00:00"), 2, "click", 2.0), // v2 window
      Ev(t("2024-01-25 10:00:00"), 3, "click", 3.0), // open v3
      Ev(t("2024-01-15 10:00:00"), 4, "error", 4.0)) // uncovered type
    val dim = Seq(
      ("click", Option("2024-01-01 00:00:00"), Option("2024-01-10 00:00:00"), "v1"),
      ("click", Option("2024-01-10 00:00:00"), Option("2024-01-20 00:00:00"), "v2"),
      ("click", Option("2024-01-20 00:00:00"), Option.empty[String], "v3"))
      .toDF("event_type", "valid_from", "valid_to", "tier")
      .withColumn("valid_from", col("valid_from").cast("timestamp"))
      .withColumn("valid_to", col("valid_to").cast("timestamp"))
    val enriched = StreamingOps.enrichPointInTime(
      in.toDF(), dim, "event_type", "ts", "valid_from", "valid_to")
    enriched.isStreaming shouldBe true
    StreamingOps.runToMemory(enriched, "pit_out", OutputMode.Append)
    val rows = spark.table("pit_out")
      .select(col("user_id"), col("tier")).orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    rows shouldBe Array(
      (1L, Some("v1")), (2L, Some("v2")), (3L, Some("v3")),
      (4L, None)) // LEFT join: uncovered type survives with null tier
  }

  it should "interval-join two streams with bounded state" in {
    val clicks = MemoryStream[Ev]
    val errors = MemoryStream[Ev]
    clicks.addData(
      Ev(t("2024-01-01 10:10:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:40:00"), 2, "click", 2.0))
    errors.addData(
      Ev(t("2024-01-01 10:05:00"), 1, "error", 9.0),  // 5m before u1 click: joins
      Ev(t("2024-01-01 10:12:00"), 1, "error", 8.0),  // 2m after u1 click: joins
      Ev(t("2024-01-01 09:00:00"), 2, "error", 7.0))  // 100m before u2 click: outside
    val joined = StreamingOps.intervalJoinStreams(
      clicks.toDF(), errors.toDF(), "user_id", "ts",
      before = "10 minutes", after = "5 minutes", watermarkDelay = "1 minute",
      rightPayload = Seq("value"))
    joined.isStreaming shouldBe true
    StreamingOps.runToMemory(joined, "ij_out", OutputMode.Append)
    val rows = spark.table("ij_out")
      .select(col("user_id"), col("right_value"))
      .orderBy("user_id", "right_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    rows shouldBe Array((1L, 8.0), (1L, 9.0))
  }

  it should "compose plug -> dedup -> windowed agg as one streaming pipeline" in {
    implicit val sp = spark
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "raw  text", 5.0),
      Ev(t("2024-01-01 10:01:00"), 2, "RAW TEXT", 50.0),   // fingerprint dup
      Ev(t("2024-01-01 10:02:00"), 3, "other words", 70.0))
    val plugged = StreamingOps.plugStream(in.toDF(),
      List(PlugRule("cap", "v1", "value > 60", Seq(PlugAction("value", "60.0")))))
    val deduped = StreamingOps.dedupStream(plugged, "ts", "event_type", "10 minutes")
    val agg = deduped
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    StreamingOps.runToMemory(agg, "pipe_out", OutputMode.Complete)
    val row = spark.table("pipe_out").collect().head
    // one of the two dup rows dropped; 70 capped to 60; 5 or 50 survives
    row.getAs[Long]("n") shouldBe 2L
    Set(65.0, 110.0) should contain (row.getAs[Double]("total"))
  }

  behavior of "stream-batch equivalence (randomized)"

  // The same randomized-reference pattern as the CC/dedup closure tests:
  // a seeded random event set pushed through the STREAMING operator must
  // equal its batch twin on the identical data. Everything arrives in one
  // micro-batch, so the watermark never drops anything and the comparison
  // is exact.
  private def randomEvents(seed: Int, n: Int): Seq[Ev] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Ev(
      new Timestamp(Timestamp.valueOf("2024-01-01 10:00:00").getTime
        + rng.nextInt(7200) * 1000L),
      1L + rng.nextInt(5),
      Seq("click", "view", "error")(rng.nextInt(3)),
      rng.nextInt(1000) / 10.0))
  }

  it should "match the batch tumbling-window aggregate on random streams" in {
    val evs = randomEvents(23, 200)
    val in = MemoryStream[Ev]
    in.addData(evs: _*)
    val agg = StreamingOps.windowedAgg(
      in.toDF(), "ts", "event_type", "value", "15 minutes", "10 minutes")
    StreamingOps.runToMemory(agg, "rand_win_out", OutputMode.Complete)
    val stream = spark.table("rand_win_out")
      .select(unix_millis(col("w.start")).as("ws"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("ws", "event_type").collect()
    val batch = graft.ops.EventOps.windowedAgg(
        evs.toDF(), "ts", "event_type", "value", "15 minutes")
      .select(col("window_start_ms").as("ws"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("ws", "event_type").collect()
    stream shouldBe batch
  }

  it should "match the batch sessionizer on random streams" in {
    // gap 1500 ms with second-granularity timestamps: the strict-< /
    // inclusive-<= boundary difference between session_window and the
    // batch lag() formulation can never fire (no gap equals exactly 1.5 s)
    val evs = randomEvents(41, 150)
    val in = MemoryStream[Ev]
    in.addData(evs: _*)
    val sess = StreamingOps.sessionAgg(
      in.toDF(), "ts", "user_id", "1500 milliseconds", "10 minutes")
    StreamingOps.runToMemory(sess, "rand_sess_out", OutputMode.Complete)
    val stream = spark.table("rand_sess_out")
      .select(col("user_id"), col("n_events"),
        unix_millis(col("w.start")).as("start_ms"),
        // session_window end = last event + gap
        (unix_millis(col("w.end")) - 1500L).as("end_ms"))
      .orderBy("user_id", "start_ms").collect()
    val batch = graft.ops.EventOps.sessionize(evs.toDF(), "user_id", "ts", 1500L)
      .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
      .orderBy("user_id", "start_ms").collect()
    stream shouldBe batch
  }

  it should "merge events landing exactly gap apart into one session" in {
    // Pins the boundary the stream_session oracle depends on: Spark's
    // session_window starts a new session only when the gap is STRICTLY
    // greater than the configured gap — an event exactly gap after its
    // predecessor still merges (UpdatingSessionsIterator extends a
    // session while newStart <= currentEnd).
    val in = MemoryStream[Ev]
    in.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:30:00"), 1, "click", 2.0),  // exactly 30m: merges
      Ev(t("2024-01-01 11:00:01"), 1, "click", 3.0))  // 30m 1s: new session
    val sess = StreamingOps.sessionAgg(
      in.toDF(), "ts", "user_id", "30 minutes", "10 minutes")
    StreamingOps.runToMemory(sess, "tie_sess_out", OutputMode.Complete)
    val rows = spark.table("tie_sess_out")
      .select(col("n_events")).orderBy(col("n_events").desc).collect().map(_.getLong(0))
    rows shouldBe Array(2L, 1L)
  }

  it should "keep running user totals across micro-batches via mapGroupsWithState" in {
    val in = MemoryStream[Ev]
    // idleTimeout=None: a processing-time timeout would schedule no-data
    // batches continuously and processAllAvailable would never settle.
    val totals = StreamingOps.runningUserTotals(in.toDF(), idleTimeout = None)
    val q = totals.writeStream.format("memory").queryName("totals_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
                 Ev(t("2024-01-01 10:01:00"), 1, "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(t("2024-01-01 10:02:00"), 1, "click", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode appends one row per user per batch; the last row carries
    // the cumulative state across batches.
    val last = spark.table("totals_out").filter(col("user_id") === 1)
      .orderBy(col("n_events").desc).limit(1).as[UserTotal].collect().head
    last shouldBe UserTotal(1, 3, 7.0)
  }

  it should "survive unrepresentable values in running totals (decimal-cast hygiene)" in {
    // NaN / Infinity / |v| >= 1e12 null out of the batch twin's
    // cast-to-decimal(18,6) sum; the state function must SKIP them (still
    // counting the event), not throw and permanently fail the query.
    val in = MemoryStream[Ev]
    val totals = StreamingOps.runningUserTotals(in.toDF(), idleTimeout = None)
    val q = totals.writeStream.format("memory").queryName("hygiene_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.5),
        Ev(t("2024-01-01 10:01:00"), 1, "click", Double.NaN),
        Ev(t("2024-01-01 10:02:00"), 1, "click", Double.PositiveInfinity),
        Ev(t("2024-01-01 10:03:00"), 1, "click", 2.0e12),
        Ev(t("2024-01-01 10:04:00"), 1, "click", 2.5))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("hygiene_out").filter(col("user_id") === 1)
      .orderBy(col("n_events").desc).limit(1).as[UserTotal].collect().head
    last shouldBe UserTotal(1, 5, 4.0)
  }

  it should "upsert latest-per-key state across micro-batches via foreachBatch" in {
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    val in = MemoryStream[Ev]
    // version = value (cast to long via ts ordering isn't available on Ev;
    // use user events where later batches carry higher "value" versions)
    val q = StreamingOps.upsertSink(
      in.toDF().select(col("user_id"), col("event_type"), col("value")),
      keyCol = "user_id", versionCol = "value", tiebreakCol = "event_type",
      dir = dir)
    try {
      in.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "a", 1.0),
        Ev(t("2024-01-01 10:01:00"), 1, "b", 2.0), // in-batch winner for key 1
        Ev(t("2024-01-01 10:02:00"), 2, "c", 5.0))
      q.processAllAvailable()
      val afterB1 = StreamingOps.readUpsertTable(spark, dir)
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      afterB1 shouldBe Array((1L, "b", 2.0), (2L, "c", 5.0))
      in.addData(
        Ev(t("2024-01-01 11:00:00"), 1, "d", 9.0),  // overwrites key 1
        Ev(t("2024-01-01 11:01:00"), 2, "e", 1.0),  // STALE: loses to base v5
        Ev(t("2024-01-01 11:02:00"), 3, "f", 7.0))  // new key inserts
      q.processAllAvailable()
    } finally q.stop()
    val finalState = StreamingOps.readUpsertTable(spark, dir)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    finalState shouldBe Array((1L, "d", 9.0), (2L, "c", 5.0), (3L, "f", 7.0))
    // the manifest pointer names the batch-1 snapshot, and batch-0's
    // files are still on disk for in-flight readers until vacuum
    graft.sources.ManifestTable.currentVersion(spark, dir) shouldBe 1L
    graft.sources.ManifestTable.vacuum(spark, dir) should be > 0
  }

  it should "carry batch-1 files untouched when batch 2's keys cannot overlap them" in {
    // the stats-bounded upsert sink invariant: a micro-batch rewrites
    // only files whose key stats intersect the batch's key range — a
    // disjoint-key batch costs its own files plus metadata, not the table
    val dir = java.nio.file.Files.createTempDirectory("upsert_bounded").toString
    val in = MemoryStream[Ev]
    val q = StreamingOps.upsertSink(
      in.toDF().select(col("user_id"), col("event_type"), col("value")),
      keyCol = "user_id", versionCol = "value", tiebreakCol = "event_type",
      dir = dir)
    try {
      in.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "a", 1.0),
        Ev(t("2024-01-01 10:01:00"), 2, "b", 2.0),
        Ev(t("2024-01-01 10:02:00"), 3, "c", 3.0))
      q.processAllAvailable()
      val batch1Files = graft.sources.ManifestTable.currentFiles(spark, dir).toSet
      batch1Files should not be empty
      in.addData( // keys 100.. — above every batch-1 file's max
        Ev(t("2024-01-01 11:00:00"), 100, "x", 9.0),
        Ev(t("2024-01-01 11:01:00"), 101, "y", 9.0))
      q.processAllAvailable()
      val after = graft.sources.ManifestTable.currentFiles(spark, dir).toSet
      // every batch-1 file carries forward as the SAME path — no rewrite
      batch1Files.subsetOf(after) shouldBe true
      (after -- batch1Files) should not be empty // plus the new keys' files
      StreamingOps.readUpsertTable(spark, dir).count() shouldBe 5
    } finally q.stop()
  }

  it should "flag streamed documents that share shingles with the benchmark" in {
    val benchmark = Seq((100L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files
      .createTempDirectory("graft_contam_gate").toString
    val in = MemoryStream[(Long, String)]
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = StreamingOps.contamGateSink(
      in.toDF().toDF("doc_id", "text"), benchmark, "doc_id", "text", out)
    in.addData(
      (1L, "the quick brown fox runs home"), // shares "the quick brown"
      (2L, "completely different words entirely here"))
    q.processAllAvailable()
    in.addData((3L, "quick brown fox jumps again now"))
    q.processAllAvailable()
    // the sink persists its two benchmark index frames for the query's
    // lifetime...
    spark.sparkContext.getPersistentRDDs.size should be > cachedBefore
    q.stop()
    // ...and the termination listener releases them (async — poll)
    val deadline = System.nanoTime() + 15_000_000_000L
    while (spark.sparkContext.getPersistentRDDs.size > cachedBefore &&
        System.nanoTime() < deadline) Thread.sleep(100)
    spark.sparkContext.getPersistentRDDs.size shouldBe cachedBefore
    val rows = spark.read.parquet(out)
      .select("batch_id", "doc_id", "flagged", "no_false_neg")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(_._1)
    rows.map(_._1) shouldBe Array(1L, 2L, 3L)
    rows.map(_._2) shouldBe Array(0L, 0L, 1L)  // batch ids
    rows.map(_._3) shouldBe Array(true, false, true)
    all(rows.map(_._4)) shouldBe true          // bloom never under-counts
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  it should "admit at most N per key-window across batches, flagging overflow" in {
    val in = MemoryStream[(Long, Long, Long)] // (event_id, user_id, ts_ms)
    val limited = StreamingOps.rateLimitStream(
      in.toDF().toDF("event_id", "user_id", "ts_ms"),
      windowMs = 1000L, maxPerWindow = 5, idleTimeout = None)
    spark.catalog.dropTempView("rate_out")
    val q = limited.toDF().writeStream.format("memory").queryName("rate_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // batch 1: user 1 sends 3 in window [0, 1000) — all admit; the sort
    // key is (ts, id), so the later-ts event is the one that counts 3rd
    in.addData((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L))
    q.processAllAvailable()
    // batch 2: 4 more in the same window — only 2 admit (5 total), and
    // admission within the batch is by (ts, event_id), not input order
    in.addData((7L, 1L, 70L), (4L, 1L, 40L), (5L, 1L, 50L), (6L, 1L, 60L))
    q.processAllAvailable()
    // batch 3: a NEW window resets the quota; another user is independent
    in.addData((8L, 1L, 1500L), (9L, 2L, 80L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rate_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    rows shouldBe Array(
      (1L, 0L, true), (2L, 0L, true), (3L, 0L, true),
      (4L, 0L, true), (5L, 0L, true), (6L, 0L, false), (7L, 0L, false),
      (8L, 1000L, true), (9L, 0L, true))
  }

  it should "land each key exactly once across overlapping batches and restarts" in {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_idem_sink").toString
    val in = MemoryStream[(Long, Long, Double)]
    val q = StreamingOps.idempotentSink(
      in.toDF().toDF("event_id", "user_id", "value"),
      keyCol = "user_id", tiebreakCol = "event_id", dir = dir)
    // intra-batch duplicate on user 1: smallest event_id survives
    in.addData((11L, 1L, 2.0), (10L, 1L, 1.0), (12L, 2L, 3.0))
    q.processAllAvailable()
    // cross-batch redelivery of user 1 + a genuinely new user
    in.addData((10L, 1L, 1.0), (13L, 3L, 4.0))
    q.processAllAvailable()
    q.stop()
    val landed = graft.sources.ManifestTable.read(spark, dir)
      .select("user_id", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    landed shouldBe Array((1L, 10L, 1.0), (2L, 12L, 3.0), (3L, 13L, 4.0))
    // RESTART: a brand-new query on the same table redelivers batch 1 —
    // the table is the state, so nothing lands and nothing commits
    val vBefore = graft.sources.ManifestTable.currentVersion(spark, dir)
    val in2 = MemoryStream[(Long, Long, Double)]
    val q2 = StreamingOps.idempotentSink(
      in2.toDF().toDF("event_id", "user_id", "value"),
      keyCol = "user_id", tiebreakCol = "event_id", dir = dir)
    in2.addData((11L, 1L, 2.0), (10L, 1L, 1.0), (12L, 2L, 3.0))
    q2.processAllAvailable()
    q2.stop()
    graft.sources.ManifestTable.currentVersion(spark, dir) shouldBe vBefore
    graft.sources.ManifestTable.read(spark, dir).count() shouldBe 3
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  it should "keep main invisible to a branch-WAP stream until the publish" in {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_wap").toString
    val M = graft.sources.ManifestTable
    M.commit(spark, dir,
      Seq((100L, "base", 1.0), (101L, "base", 2.0))
        .toDF("event_id", "event_type", "value"))
    M.createBranch(spark, dir, "ingest")
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamingOps.branchWapSink(
      in.toDF().toDF("event_id", "event_type", "value"), dir, "ingest")
    in.addData((1L, "click", 5.0), (2L, "view", 6.0))
    q.processAllAvailable()
    // mid-stream: the batch is on the branch, main is untouched
    M.read(spark, dir).count() shouldBe 2
    M.readBranch(spark, dir, "ingest").count() shouldBe 4
    in.addData((3L, "click", 7.0))
    q.processAllAvailable()
    q.stop()
    M.read(spark, dir).count() shouldBe 2
    // audit then publish: one swap makes all three streamed rows visible
    M.readBranch(spark, dir, "ingest").count() shouldBe 5
    M.fastForward(spark, dir, "ingest")
    M.dropBranch(spark, dir, "ingest")
    M.read(spark, dir).count() shouldBe 5
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  it should "maintain a DDSketch histogram that merges across batches additively" in {
    val out = java.nio.file.Files
      .createTempDirectory("graft_stream_dds").toString
    val in = MemoryStream[(String, Double)]
    val q = StreamingOps.ddsketchSink(
      in.toDF().toDF("k", "value"), "k", "value", alpha = 0.02, out)
    in.addData(("a", 10.0), ("a", 20.0), ("a", 30.0))
    q.processAllAvailable()
    in.addData(("a", 40.0), ("a", 50.0), ("b", 7.0))
    q.processAllAvailable()
    q.stop()
    val merged = graft.ops.EventOps.ddsketchQuantilesFromHistogram(
      graft.sources.ManifestTable.read(spark, out),
      "k", "bucket", "n", alpha = 0.02, qs = Seq(0.5))
    // the maintained sketch equals the batch sketch of the union feed
    val batch = graft.ops.EventOps.ddsketchQuantiles(
      Seq(("a",10.0),("a",20.0),("a",30.0),("a",40.0),("a",50.0),("b",7.0))
        .toDF("k", "value"), "k", "value", 0.02, Seq(0.5))
    val m = merged.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    val b = batch.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sorted
    m shouldBe b
    // p50 of a is within 2% of 30
    math.abs(m(0)._3 - 30.0) / 30.0 should be <= 0.021
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  it should "stamp WAP batches so a replay cannot duplicate branch rows" in {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_wap_stamp").toString
    val M = graft.sources.ManifestTable
    M.commit(spark, dir, Seq((100L, 1.0)).toDF("event_id", "value"))
    M.createBranch(spark, dir, "ingest")
    val in = MemoryStream[(Long, Double)]
    val q = StreamingOps.branchWapSink(
      in.toDF().toDF("event_id", "value"), dir, "ingest")
    in.addData((1L, 5.0), (2L, 6.0))
    q.processAllAvailable()
    in.addData((3L, 7.0))
    q.processAllAvailable()
    q.stop()
    // every batch landed once and the LAST batch id is the marker
    M.readBranch(spark, dir, "ingest").count() shouldBe 4
    M.lastStreamBatchOnBranch(spark, dir, "ingest", "wap") shouldBe Some(1L)
    // the sink's replay guard: at-least-once redelivery of batches 0/1
    // is detected (skipped); only a genuinely new batch id passes
    M.lastStreamBatchOnBranch(spark, dir, "ingest", "wap")
      .exists(_ >= 1L) shouldBe true
    M.lastStreamBatchOnBranch(spark, dir, "ingest", "wap")
      .exists(_ >= 2L) shouldBe false
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  it should "bind the streamed ANN index to the exact corpus version its append produced" in {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_c").toString
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_i").toString
    val M = graft.sources.ManifestTable
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val v0 = M.commit(spark, corpusDir,
      Seq((1L, Seq(0.9, 0.1))).toDF("vec_id", "embedding")).version
    M.commitIndex(spark, indexDir,
      graft.ops.Similarity.assignCells(
        M.read(spark, corpusDir), "vec_id", "embedding", cent),
      corpusDir, v0)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.annMaintainSink(
      in.toDF().toDF("vec_id", "embedding"),
      corpusDir, indexDir, "vec_id", "embedding", cent)
    in.addData((2L, Seq(0.1, 0.8)))
    q.processAllAvailable()
    in.addData((3L, Seq(0.7, 0.2)))
    q.processAllAvailable()
    q.stop()
    // both tables carry the last batch id; the binding is the version
    // the corpus append RETURNED, and it is fresh
    M.lastStreamBatch(spark, corpusDir, "ann") shouldBe Some(1L)
    M.lastStreamBatch(spark, indexDir, "ann") shouldBe Some(1L)
    M.indexSourceOf(spark, indexDir) shouldBe
      Some((corpusDir, M.currentVersion(spark, corpusDir)))
    noException should be thrownBy M.requireIndexFresh(spark, indexDir)
    M.read(spark, corpusDir).count() shouldBe 3
    M.read(spark, indexDir).count() shouldBe 3
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir))
  }

  it should "advance the text index's #meta totals exactly once per micro-batch" in {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_stream_inv_c").toString
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_stream_inv_i").toString
    val M = graft.sources.ManifestTable
    val R = graft.ops.Retrieval
    val base = Seq((1L, "a b c")).toDF("doc_id", "text")
    val v0 = M.commit(spark, corpusDir, base).version
    M.commitIndex(spark, indexDir,
      R.buildPostings(M.read(spark, corpusDir), "doc_id", "text"),
      corpusDir, v0,
      meta = Map(R.MetaDocs -> "1", R.MetaTotalDl -> "3"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.textIndexMaintainSink(
      in.toDF().toDF("doc_id", "text"), corpusDir, indexDir,
      "doc_id", "text")
    in.addData((2L, "a b"))
    q.processAllAvailable()
    // between batches: fresh, and the totals are the TRUE running corpus
    // stats — a BM25 probe here scores with correct idf/avgdl
    noException should be thrownBy M.requireIndexFresh(spark, indexDir)
    M.properties(spark, indexDir) shouldBe
      Map(R.MetaDocs -> "2", R.MetaTotalDl -> "5")
    in.addData((3L, "c d e f"))
    q.processAllAvailable()
    q.stop()
    M.properties(spark, indexDir) shouldBe
      Map(R.MetaDocs -> "3", R.MetaTotalDl -> "9")
    noException should be thrownBy M.requireIndexFresh(spark, indexDir)
    // a replayed batch id must not double-count documents or totals
    val q2 = StreamingOps.textIndexMaintainSink(
      in.toDF().toDF("doc_id", "text"), corpusDir, indexDir,
      "doc_id", "text")
    q2.processAllAvailable(); q2.stop()
    M.properties(spark, indexDir) shouldBe
      Map(R.MetaDocs -> "3", R.MetaTotalDl -> "9")
    M.read(spark, corpusDir).count() shouldBe 3
    // postings rows: 3 + 2 + 4 distinct (term, doc) pairs
    M.read(spark, indexDir).count() shouldBe 9
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir))
  }

  it should "erase streamed keys from corpus and bound index, replay-safe" in {
    val M = graft.sources.ManifestTable
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_gdpr_c").toString
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_gdpr_i").toString
    val corpus = (0L until 40L).map(i => (i, i % 4)).toDF("id", "cell")
    M.commit(spark, corpusDir, corpus)
    M.commitIndex(spark, indexDir, corpus.withColumnRenamed("id", "nid"),
      corpusDir, 0L)
    val in = MemoryStream[Long]
    val q = StreamingOps.eraseMaintainSink(
      in.toDS().toDF("id"), "id", corpusDir, indexDir, "id", "nid")
    in.addData(10L, 11L, 12L); q.processAllAvailable()
    // fresh between batches; both tables lost exactly the erased keys
    noException should be thrownBy M.requireIndexFresh(spark, indexDir)
    M.read(spark, corpusDir).count() shouldBe 37
    M.read(spark, indexDir).filter(col("nid").isin(10L, 11L, 12L))
      .count() shouldBe 0
    // replaying erased keys (at-least-once) is harmless
    in.addData(11L, 12L); q.processAllAvailable()
    q.stop()
    noException should be thrownBy M.requireIndexFresh(spark, indexDir)
    M.read(spark, corpusDir).count() shouldBe 37
    M.read(spark, indexDir).count() shouldBe 37
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir))
  }

  it should "maintain a preference-count log equal to batch aggregation, replay-safe" in {
    val M = graft.sources.ManifestTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pref").toString
    // base: one committed partial (1 beats 2 once, both directions)
    M.commit(spark, dir,
      Seq((1L, 2L, 1L, 1L), (2L, 1L, 1L, 0L)).toDF("i", "j", "n", "w"))
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.prefMaintainSink(in.toDS().toDF("i", "j", "wi"), dir)
    // batch: 1 beats 2 again, 2 beats 3 (directed rows, both directions)
    in.addData((1L, 2L, 1L), (2L, 1L, 0L), (2L, 3L, 1L), (3L, 2L, 0L))
    q.processAllAvailable()
    def matrix() = M.read(spark, dir)
      .groupBy("i", "j").agg(sum("n").as("n"), sum("w").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val m1 = matrix()
    m1((1L, 2L)) shouldBe ((2L, 2L))
    m1((2L, 3L)) shouldBe ((1L, 1L))
    m1((3L, 2L)) shouldBe ((1L, 0L))
    // the solve over the log equals the solve over equivalent raw pairs
    val fromLog = graft.ops.EventOps.bradleyTerryFromCounts(
      M.read(spark, dir).groupBy("i", "j")
        .agg(sum("n").as("n"), sum("w").as("w")), 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val fromPairs = graft.ops.EventOps.bradleyTerry(
      Seq((1L, 2L, 1), (1L, 2L, 1), (2L, 3L, 1)).toDF("a", "b", "awin"),
      "a", "b", "awin", 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    fromLog shouldBe fromPairs
    q.stop()
    // a fresh query restarting at batch 0 replays the same data: the
    // #streambatch stamp must skip it, not double the counts
    val in2 = MemoryStream[(Long, Long, Long)]
    val q2 = StreamingOps.prefMaintainSink(in2.toDS().toDF("i", "j", "wi"), dir)
    in2.addData((1L, 2L, 1L), (2L, 1L, 0L), (2L, 3L, 1L), (3L, 2L, 0L))
    q2.processAllAvailable()
    q2.stop()
    matrix() shouldBe m1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
