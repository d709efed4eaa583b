package graft

import graft.engine.{Search, TermQuery}
import java.sql.Timestamp
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch≡stream parity: the same transform fed through MemoryStream must
  * produce the rows the batch application produces, and watermark/dedup
  * semantics must hold incrementally.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1704067200000L + minute * 60000L)

  private val rows = Seq(
    Streaming.Ev(1L, ts(0), 0L, "view", 1.0),
    Streaming.Ev(2L, ts(10), 0L, "error", 2.0),
    Streaming.Ev(3L, ts(50), 0L, "error", 3.0),
    Streaming.Ev(4L, ts(70), 0L, "error", 4.0),
    Streaming.Ev(5L, ts(75), 1L, "view", 5.0),
    Streaming.Ev(6L, ts(80), 1L, "error", 6.0),
    Streaming.Ev(7L, ts(130), 1L, "purchase", 7.0))

  /** Wrapper: Ev has no props column; the transforms only need these 6. */
  private def toDf(evs: Seq[Streaming.Ev]): DataFrame =
    evs.toDF().withColumn("props", lit("{}"))

  private def runStream(transform: DataFrame => DataFrame,
                        outputMode: String,
                        batches: Seq[Seq[Streaming.Ev]]): Seq[String] = {
    val input = MemoryStream[Streaming.Ev](spark)
    val q = transform(input.toDF().withColumn("props", lit("{}")))
      .writeStream.format("memory").queryName("sink").outputMode(outputMode).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table("sink").collect().map(_.toString).sorted.toSeq
  }

  test("stream-static dedup: arriving docs anti-join the standing corpus, stateless, batch-equal") {
    // The static corpus: two known texts. Stream three micro-batches of
    // (doc_id, text); docs whose text already exists in the corpus must be
    // dropped, new docs pass — and a text seen in an EARLIER micro-batch
    // but absent from the corpus passes AGAIN (stream-static keeps no
    // cross-batch state by design; cross-batch dedup is T5's job).
    val corpus = Seq((100L, "known text one"), (101L, "known text two"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streaming.dedupAgainstCorpus(
        input.toDF().toDF("doc_id", "text"), corpus)
      .select("doc_id")
      .writeStream.format("memory").queryName("ssdedup").outputMode("append").start()
    try {
      input.addData(Seq((1L, "known text one"), (2L, "novel alpha")))
      q.processAllAvailable()
      input.addData(Seq((3L, "known text two"), (4L, "novel alpha"), (5L, "novel beta")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssdedup").as[Long].collect().sorted.toSeq
    assert(got === Seq(2L, 4L, 5L))
    // batch twin: identical code over batch frames gives identical survivors
    val batch = Streaming.dedupAgainstCorpus(
      Seq((1L, "known text one"), (2L, "novel alpha"), (3L, "known text two"),
        (4L, "novel alpha"), (5L, "novel beta")).toDF("doc_id", "text"), corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(batch === got)
    // stateless: the plan must carry no streaming state-store operator
    val plan = Streaming.dedupAgainstCorpus(input.toDF().toDF("doc_id", "text"), corpus)
      .queryExecution.analyzed.toString
    assert(!plan.contains("StateStore"), plan)
    // survivors keep EXACTLY the input schema — the internal digest
    // column must not leak into the landed corpus
    val in = Seq((9L, "t")).toDF("doc_id", "text")
    assert(Streaming.dedupAgainstCorpus(in, corpus).schema === in.schema)
  }

  test("tumbling window: stream (complete mode) equals batch") {
    val batch = Streaming.tumblingCounts(toDf(rows)).collect().map(_.toString).sorted.toSeq
    val stream = runStream(Streaming.tumblingCounts, "complete", Seq(rows.take(4), rows.drop(4)))
    assert(stream === batch)
  }

  test("hourly latency sketch: stream bucket counts equal batch; state is one count " +
    "per (window, type, bucket) key") {
    val batch = Streaming.hourlySketchCounts(toDf(rows)).collect().map(_.toString).sorted.toSeq
    val stream = runStream(Streaming.hourlySketchCounts, "complete",
      Seq(rows.take(4), rows.drop(4)))
    assert(stream === batch)
    // single aggregation → append-legal under a watermark: the analyzed
    // streaming plan must carry exactly one Aggregate above the source
    val input = MemoryStream[Streaming.Ev](spark)
    val aggs = Streaming.hourlySketchCounts(
        input.toDF().withWatermark("ts", "1 hour"))
      .queryExecution.analyzed
      .collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.size === 1, s"expected a single streaming aggregation, got ${aggs.size}")
  }

  test("template tumbling: stream equals batch; masking leaves no digits") {
    // real props so the masked variables (code=, k=) actually exist
    def withProps(df: DataFrame): DataFrame = df.withColumn("props",
      concat(lit("{\"k\": "), col("event_id").cast("string"), lit("}")))
    val batch = Streaming.templateCounts(withProps(rows.toDF()))
      .collect().map(_.toString).sorted.toSeq
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.templateCounts(withProps(input.toDF()))
      .writeStream.format("memory").queryName("templ").outputMode("complete").start()
    try {
      input.addData(rows.take(4)); q.processAllAvailable()
      input.addData(rows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("templ").collect().map(_.toString).sorted.toSeq
    assert(stream === batch)
    val templates = spark.table("templ").select("template").as[String].collect()
    assert(templates.nonEmpty)
    assert(templates.forall(t => !t.exists(_.isDigit)), templates.mkString("; "))
  }

  test("drift vs static baseline: stream equals batch; unseen bins surface") {
    // baseline values {0, 10} populate only bins 0 and 9. Window 0 streams
    // the same 50/50 mix → KL exactly 0, nothing unseen. Window 1 streams
    // value 5 → bin 5, which the baseline never populated: it must be
    // EXCLUDED from the KL (log of zero) and surface as n_unseen instead.
    val baseline = toDf(Seq(
      Streaming.Ev(100L, ts(0), 0L, "view", 0.0),
      Streaming.Ev(101L, ts(1), 0L, "view", 10.0)))
    val streamRows = Seq(
      Streaming.Ev(1L, ts(0), 0L, "view", 0.0),
      Streaming.Ev(2L, ts(1), 0L, "view", 10.0),
      Streaming.Ev(3L, ts(70), 0L, "view", 5.0))
    val batch = Streaming.driftAgainstBaseline(toDf(streamRows), baseline)
      .collect().map(_.toString).sorted.toSeq
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.driftAgainstBaseline(
        input.toDF().withColumn("props", lit("{}")), baseline)
      .writeStream.format("memory").queryName("drift").outputMode("complete").start()
    try {
      input.addData(streamRows.take(2)); q.processAllAvailable()
      input.addData(streamRows.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("drift").collect().map(_.toString).sorted.toSeq
    assert(stream === batch)
    val rows = spark.table("drift")
      .select("n_events", "kl", "n_unseen")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 0.0, 1L), (2L, 0.0, 0L)))
  }

  test("hll tumbling distinct users: stream equals batch, estimate exact at hand scale") {
    val batch = Streaming.tumblingDistinctUsers(toDf(rows)).collect().map(_.toString).sorted.toSeq
    val stream = runStream(Streaming.tumblingDistinctUsers, "complete",
      Seq(rows.take(4), rows.drop(4)))
    assert(stream === batch)
    // two users → the sketch is exact; approx_users must equal the true
    // distinct count per (window, type)
    val exact = toDf(rows)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(countDistinct("user_id").as("x"))
      .select(col("w.start").as("ws"), col("event_type"), col("x"))
      .as[(Timestamp, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    Streaming.tumblingDistinctUsers(toDf(rows))
      .select("ws", "event_type", "approx_users")
      .as[(Timestamp, String, Long)].collect()
      .foreach { case (ws, t, a) => assert(a === exact((ws, t)), s"($ws,$t)") }
  }

  test("sliding window: stream equals batch") {
    val batch = Streaming.slidingCounts(toDf(rows)).collect().map(_.toString).sorted.toSeq
    val stream = runStream(Streaming.slidingCounts, "complete", Seq(rows.take(3), rows.drop(3)))
    assert(stream === batch)
  }

  test("session window: stream equals batch (gap 30min)") {
    val batch = Streaming.sessionStats(toDf(rows)).collect().map(_.toString).sorted.toSeq
    val stream = runStream(Streaming.sessionStats, "complete", Seq(rows.take(5), rows.drop(5)))
    assert(stream === batch)
  }

  test("watermark drops late data once the horizon passes") {
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.tumblingWithWatermark(input.toDF().withColumn("props", lit("{}")))
      .writeStream.format("memory").queryName("wm_sink").outputMode("append").start()
    try {
      // Batch 1 sets max event time to minute 300 → watermark = minute 240.
      input.addData(Seq(
        Streaming.Ev(1L, ts(10), 0L, "view", 1.0),
        Streaming.Ev(2L, ts(300), 0L, "view", 1.0)))
      q.processAllAvailable()
      // Batch 2: an event at minute 10 is 230 min late — beyond the 60-min
      // tolerance; its (already finalized) window must not reopen.
      input.addData(Seq(Streaming.Ev(3L, ts(10), 0L, "view", 99.0)))
      q.processAllAvailable()
      input.addData(Seq(Streaming.Ev(4L, ts(600), 0L, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_sink")
    // the minute-0..60 window was emitted with exactly 1 event (not 2)
    val w0 = out.filter(col("ws") === ts(0)).select("n").as[Long].collect()
    assert(w0.toSeq === Seq(1L))
  }

  test("alert rules: incremental count crosses micro-batches; firings equal batch; no-fire rule silent") {
    // Rule 1 fires at >= 3 errors/day; rule 2's threshold is unreachable.
    val rules = Seq((1L, "error", 3L), (2L, "view", 1000L))
      .toDF("rule_id", "rule_type", "min_n")
    val day = 1440 // minutes
    val batches = Seq(
      // day 1: two errors arrive in one micro-batch...
      Seq(Streaming.Ev(1L, ts(0), 0L, "error", 1.0),
        Streaming.Ev(2L, ts(10), 0L, "error", 1.0),
        Streaming.Ev(3L, ts(20), 0L, "view", 1.0)),
      // ...the THIRD error (the one that crosses the threshold) in the
      // next — the count must fold across batches. The day-2 event
      // advances the watermark past day 1's window end.
      Seq(Streaming.Ev(4L, ts(30), 0L, "error", 1.0),
        Streaming.Ev(5L, ts(day + 60), 1L, "view", 1.0)),
      // day-3 event: advances the watermark past day 2, forcing both
      // closed windows to emit.
      Seq(Streaming.Ev(6L, ts(2 * day + 120), 1L, "view", 1.0)))
    val streamed = runStream(
      df => Streaming.alertFirings(df.withWatermark("ts", "1 hour"), rules),
      "append", batches)
    // Only rule 1/day 1 fires: 3 errors >= 3. Day 2's lone view is far
    // under rule 2's threshold; rule 2 stays silent everywhere.
    val batch = Streaming.alertFirings(toDf(batches.flatten), rules)
    assert(streamed === batch.collect().map(_.toString).sorted.toSeq)
    assert(streamed.size === 1 && streamed.head.contains("1,"))
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicate event_ids") {
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.dedupWithinWatermark(input.toDF().withColumn("props", lit("{}")))
      .writeStream.format("memory").queryName("dd_sink").outputMode("append").start()
    try {
      input.addData(Seq(
        Streaming.Ev(1L, ts(0), 0L, "view", 1.0),
        Streaming.Ev(1L, ts(1), 0L, "view", 1.0), // dup id, in horizon
        Streaming.Ev(2L, ts(2), 0L, "view", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(Streaming.Ev(1L, ts(3), 0L, "view", 1.0))) // still dup
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dd_sink").select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("error-burst state machine: stream equals batch formula") {
    val errs = (1 to 7).map(i => Streaming.Ev(100L + i, ts(i), 9L, "error", 1.0))
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.errorBursts(input.toDS())
      .writeStream.format("memory").queryName("burst_sink").outputMode("append").start()
    try {
      input.addData(errs.take(4)); q.processAllAvailable()
      input.addData(errs.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("burst_sink").as[Streaming.Alert].collect().sortBy(_.alert_no).toSeq
    // 7 errors → alerts at the 3rd and 6th
    assert(got === Seq(Streaming.Alert(9L, 3L, 1L), Streaming.Alert(9L, 6L, 2L)))
  }

  test("stream-stream attribution join: two MemoryStreams equal the batch twin") {
    val clicks = Seq(
      Streaming.Ev(10L, ts(0), 0L, "click", 0.0),
      Streaming.Ev(11L, ts(30), 0L, "click", 0.0),
      Streaming.Ev(12L, ts(5), 1L, "click", 0.0))
    val purchases = Seq(
      Streaming.Ev(20L, ts(20), 0L, "purchase", 9.5),   // joins clicks 10 (lag 20m)
      Streaming.Ev(21L, ts(80), 0L, "purchase", 3.25),  // joins click 11 (50m); click 10 is 80m away → out
      Streaming.Ev(22L, ts(200), 1L, "purchase", 7.0))  // 195m after click 12 → out
    val cIn = MemoryStream[Streaming.Ev](spark)
    val pIn = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.clickAttribution(
        cIn.toDF().withColumn("props", lit("{}")),
        pIn.toDF().withColumn("props", lit("{}")))
      .writeStream.format("memory").queryName("attrib_sink").outputMode("append").start()
    try {
      cIn.addData(clicks.take(2)); pIn.addData(purchases.take(1)); q.processAllAvailable()
      cIn.addData(clicks.drop(2)); pIn.addData(purchases.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("attrib_sink").collect().map(_.toString).sorted.toSeq
    val batch = Streaming.clickAttribution(
      toDf(clicks ++ purchases), toDf(clicks ++ purchases))
      .collect().map(_.toString).sorted.toSeq
    assert(stream === batch)
    val pairs = spark.table("attrib_sink")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 20L), (11L, 21L)))
  }

  test("streaming text-log grep: tail -f over a log dir, filtered live") {
    // logdb's core interactive flow — follow a growing log directory and
    // grep it — as readStream.text → parse → filter. New files appearing
    // in the directory are new micro-batches.
    val dir = java.nio.file.Files.createTempDirectory("graft-taillog").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.log"),
      """2024-01-01T10:00:00 INFO api: ok
        |2024-01-01T10:00:01 ERROR api: boom
        |""".stripMargin)
    val errs = graft.sources.LogSource.streamTextLog(spark, dir)
      .filter(col("level") === "ERROR")
    assert(errs.isStreaming)
    val q = errs.writeStream.format("memory").queryName("grep_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.log"),
        """2024-01-01T10:00:02 WARN api: hmm
          |2024-01-01T10:00:03 ERROR db: down
          |""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("grep_sink").select("component", "message")
      .as[(String, String)].collect().toSet
    assert(got === Set(("api", "boom"), ("db", "down")))
  }

  test("day-partitioned streaming sink lands prunable parquet") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.startDayPartitionedSink(
      input.toDF().withColumn("props", lit("{}")),
      s"$base/out", s"$base/ckpt")
    try {
      input.addData(rows.take(4)); q.processAllAvailable()
      input.addData(rows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$base/out")
    assert(landed.count() === rows.length)
    // the layout is the batch writer's: day= directories a filter can prune
    assert(landed.schema.fieldNames.contains("day"))
    val pruned = landed.filter(col("day") === java.sql.Date.valueOf("2024-01-01"))
    assert(pruned.count() === rows.length) // fixture rows all land on one day
  }

  test("foreachBatch sink: per-batch overwrite is replay-idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.startForeachBatchSink(
      input.toDF().withColumn("props", lit("{}")), s"$base/out", s"$base/ckpt")
    try {
      input.addData(rows.take(4)); q.processAllAvailable()
      input.addData(rows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    def totals: Map[String, Long] = spark.read.parquet(s"$base/out/batch=*")
      .groupBy("event_type").agg(sum("n").as("n"))
      .as[(String, Long)].collect().toMap
    val expected = toDf(rows).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(totals === expected)
    // replay: re-running a delivered batch must overwrite, not duplicate —
    // the idempotence exactly-once rests on. Simulate by re-writing batch 0's
    // content through the same keyed path the sink uses.
    toDf(rows.take(4)).groupBy("event_type").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$base/out/batch=0")
    assert(totals === expected)
  }

  test("keyed-upsert sink: stream equals batch compaction; crash replay is idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.startKeyedUpsertSink(
      input.toDF().withColumn("props", lit("{}")), s"$base/table", s"$base/ckpt")
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.slice(3, 5)); q.processAllAvailable()
      input.addData(rows.drop(5)); q.processAllAvailable()
    } finally q.stop()
    def tableRows: Seq[String] =
      Streaming.readKeyedTable(spark, s"$base/table")
        .select("user_id", "event_type", "last_ts", "last_value",
          "last_event_id", "n_versions")
        .collect().map(_.toString).sorted.toSeq
    val streamed = tableRows
    // stream ≡ batch: the standing table after 3 micro-batches must be
    // exactly what log_compact_latest computes over the full event set
    val batchDir = java.nio.file.Files.createTempDirectory("graft-upsert-b").toString
    toDf(rows).write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val batch = graft.engine.LogOps.compactLatest.build(spark, batchDir)
      .select("user_id", "event_type", "last_ts", "last_value",
        "last_event_id", "n_versions")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // crash replay: foreachBatch delivery is at-least-once — re-driving the
    // LAST batch with the same batchId must leave the table unchanged
    // (the merge re-reads the pre-state version, not its own output)
    val lastVersion = Streaming.tableVersions(s"$base/table").max
    Streaming.upsertBatch(toDf(rows.drop(5)), s"$base/table", lastVersion)
    assert(tableRows === streamed, "replaying a delivered batch changed the table")
    // and a SECOND replay of the same batch is still stable
    Streaming.upsertBatch(toDf(rows.drop(5)), s"$base/table", lastVersion)
    assert(tableRows === streamed)
  }

  test("latency-sketch sink: stream-fed store equals batch-built store; double replay is stable") {
    val base = java.nio.file.Files.createTempDirectory("graft-sketch-sink").toString
    val input = MemoryStream[Streaming.Ev](spark)
    val q = Streaming.startLatencySketchSink(
      input.toDF().withColumn("props", lit("{}")), s"$base/table", s"$base/ckpt")
    try {
      input.addData(rows.take(4)); q.processAllAvailable()
      input.addData(rows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    def tableRows: Seq[String] =
      Streaming.readKeyedTable(spark, s"$base/table")
        .select(col("event_type"), col("day").cast("string"), col("bucket"), col("n"))
        .collect().map(_.toString).sorted.toSeq
    val streamed = tableRows
    // stream ≡ batch: the standing table after 2 micro-batches must hold
    // exactly the counts Sinks.writeLatencySketches derives over all rows
    val batchDir = s"$base/batch_store"
    graft.sources.Sinks.writeLatencySketches(toDf(rows), batchDir)
    val batch = spark.read.parquet(batchDir)
      .select(col("event_type"), col("day").cast("string"), col("bucket"), col("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // crash replay: re-driving the LAST batch with the same batchId must
    // leave the table unchanged (the merge re-reads the pre-state version)
    val lastVersion = Streaming.tableVersions(s"$base/table").max
    Streaming.sketchUpsertBatch(toDf(rows.drop(4)), s"$base/table", lastVersion)
    assert(tableRows === streamed, "replaying a delivered batch changed the table")
    // and a SECOND replay of the same batch is still stable
    Streaming.sketchUpsertBatch(toDf(rows.drop(4)), s"$base/table", lastVersion)
    assert(tableRows === streamed)
    // the stream-fed counts serve the SAME rank walk the standing batch
    // store serves: merged totals per type agree with a direct count
    val totals = Streaming.readKeyedTable(spark, s"$base/table")
      .groupBy("event_type").agg(sum("n").as("n"))
      .as[(String, Long)].collect().toMap
    val direct = toDf(rows).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(totals === direct)
  }

  test("postings sink: stream-fed store answers conjunctive/BM25/phrase probes " +
    "identically to a batch-built store; crash re-delivery changes nothing") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val docRows = docs
      .select("doc_id", "text", "lang", "source")
      .as[Streaming.Doc].collect().toSeq
    val (exist, batchDocs) = docRows.partition(_.doc_id % 5 != 0)
    val (b1, b2) = batchDocs.splitAt(batchDocs.length / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-postings-sink").toString

    // base store from the standing corpus, then two streamed micro-batches
    val streamStore = s"$base/stream_store"
    graft.sources.Sinks.writePostings(exist.toDF(), streamStore, buckets = 16)
    val input = MemoryStream[Streaming.Doc](spark)
    val q = Streaming.startPostingsSink(input.toDF(), streamStore, s"$base/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // the reference: one batch build over ALL docs
    val fullStore = s"$base/full_store"
    graft.sources.Sinks.writePostings(docRows.toDF(), fullStore, buckets = 16)
    val terms = Seq("spark", "join", "window")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def probeAll(store: String): Seq[Seq[String]] = Seq(
      rows(graft.sources.Sinks.probePostings(spark, store, terms)),
      rows(graft.sources.Sinks.probePostingsBm25(spark, store, terms, k = 20)),
      rows(Search.phrase(Search.Store(spark, store), Seq("slow", "join"))),
      rows(Search.matches(Search.Store(spark, store), TermQuery(Nil, should = terms))))
    val streamed = probeAll(streamStore)
    assert(streamed === probeAll(fullStore),
      "stream-fed store diverged from the batch-built store")
    assert(streamed.head.nonEmpty, "probe returned nothing — vacuous parity")
    // meta (BM25 normalizers) identical too: N and avgdl count streamed docs
    def meta(store: String) = rows(graft.sources.Sinks.storeMeta(spark, store))
    assert(meta(streamStore) === meta(fullStore))

    // crash re-delivery: re-drive the LAST batch with its batchId — the
    // segment overwrites itself, probes and meta must not move
    graft.sources.Sinks.ingestPostingsSegment(spark, streamStore, b2.toDF(), 1L)
    assert(probeAll(streamStore) === streamed,
      "replaying a delivered batch changed the store's answers")
    assert(meta(streamStore) === meta(fullStore))

    // COMPACTION: fold both segments into a new generation — answers and
    // meta must not move, no segment stays VISIBLE (the folded dirs
    // survive on disk until the next maintenance op's GC — the in-flight
    // reader grace), and a second call on the fold-free store must be a
    // no-op
    graft.sources.Sinks.compactPostings(spark, streamStore)
    assert(graft.sources.Sinks.visibleSegmentCount(spark, streamStore) === 0,
      "segments still visible after compaction")
    assert(probeAll(streamStore) === streamed,
      "compaction changed the store's answers")
    assert(meta(streamStore) === meta(fullStore))
    graft.sources.Sinks.compactPostings(spark, streamStore)
    assert(probeAll(streamStore) === streamed)
    // a replayed batch arriving AFTER its segment was folded rewrites an
    // id at-or-below the fold watermark: invisible to probes, pure GC food
    graft.sources.Sinks.ingestPostingsSegment(spark, streamStore, b2.toDF(), 1L)
    assert(graft.sources.Sinks.visibleSegmentCount(spark, streamStore) === 0)
    assert(probeAll(streamStore) === streamed,
      "post-compaction replay changed the store's answers")

    // stream-only store (no batch base): the first segment creates meta
    val onlyStore = s"$base/stream_only"
    val input2 = MemoryStream[Streaming.Doc](spark)
    val q2 = Streaming.startPostingsSink(input2.toDF(), onlyStore, s"$base/ckpt2",
      buckets = 16)
    try {
      input2.addData(docRows); q2.processAllAvailable()
    } finally q2.stop()
    assert(probeAll(onlyStore) === probeAll(fullStore),
      "stream-only store diverged from the batch-built store")
  }

  test("postings sink AUTO-COMPACTION: a 30-batch stream keeps the visible " +
    "segment count bounded and probes batch-equal throughout") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val docRows = docs.select("doc_id", "text", "lang", "source")
      .as[Streaming.Doc].collect().toSeq.sortBy(_.doc_id)
    val slices = docRows.grouped(math.max(1, docRows.size / 30)).toSeq.take(30)
    val base = java.nio.file.Files.createTempDirectory("graft-postings-auto").toString
    val store = s"$base/store"
    val compactEvery = 5
    val input = MemoryStream[Streaming.Doc](spark)
    val q = Streaming.startPostingsSink(input.toDF(), store, s"$base/ckpt",
      buckets = 16, compactEvery = compactEvery)
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    try slices.foreach { s =>
      input.addData(s); q.processAllAvailable()
      counts += graft.sources.Sinks.visibleSegmentCount(spark, store)
    } finally q.stop()
    // the trigger fires on the batch that reaches the threshold, so the
    // post-batch count never exceeds compactEvery - 1 — bounded forever,
    // with no operator in the loop
    assert(counts.max < compactEvery, s"segment counts: ${counts.mkString(",")}")
    assert(counts.count(_ == 0) >= slices.size / compactEvery,
      s"compaction never fired: ${counts.mkString(",")}")
    // the stream-fed, repeatedly-compacted store answers exactly like one
    // batch build over the streamed docs
    val fullStore = s"$base/full"
    val streamed = slices.flatten
    graft.sources.Sinks.writePostings(streamed.toDF(), fullStore, buckets = 16)
    val terms = Seq("spark", "join", "window")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def probeAll(p: String): Seq[Seq[String]] = Seq(
      rows(graft.sources.Sinks.probePostings(spark, p, terms)),
      rows(graft.sources.Sinks.probePostingsBm25(spark, p, terms, k = 20)),
      rows(graft.sources.Sinks.storeMeta(spark, p)))
    assert(probeAll(store) === probeAll(fullStore),
      "auto-compacted stream store diverged from the batch build")
    // replay AFTER the final compaction: re-ingesting the last batch id is
    // invisible (at-or-below the fold watermark) and changes no answer
    val lastId = slices.size - 1L
    graft.sources.Sinks.ingestPostingsSegment(spark, store,
      slices.last.toDF(), lastId)
    assert(probeAll(store) === probeAll(fullStore),
      "post-compaction replay changed the store's answers")
  }

  test("shingle-pair sink: stream-fed pair store equals a batch-built one; " +
    "crash re-delivery changes nothing") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val docRows = docs.as[Streaming.Doc].collect().toSeq
    val (exist, batchDocs) = docRows.partition(_.doc_id % 5 != 0)
    val (b1, b2) = batchDocs.splitAt(batchDocs.length / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-pair-sink").toString
    val pairs = s"$base/pairs"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(exist.toDF()), pairs, 2)

    val input = MemoryStream[Streaming.Doc](spark)
    val q = Streaming.startShinglePairsSink(input.toDF(), exist.toDF(),
      pairs, s"$base/docs", s"$base/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // stream-fed store ≡ one batch build over ALL docs
    val want = rows(graft.engine.LlmOps.shinglePairsOfDocs(docRows.toDF()))
    assert(rows(spark.read.parquet(pairs)) === want,
      "stream-fed pair store diverged from the batch-built pair set")
    assert(want.nonEmpty, "no pairs — vacuous parity")
    // crash re-delivery of the LAST batch (batchId 1): the doc segment
    // overwrites itself, the existing set re-derives identically, and the
    // standing-key anti-join appends nothing
    Streaming.shinglePairsIngestBatch(exist.toDF(), b2.toDF(),
      pairs, s"$base/docs", 1L)
    assert(rows(spark.read.parquet(pairs)) === want,
      "replaying a delivered batch changed the pair store")
  }

  test("sharded pair delta ≡ unsharded delta — including standing copies of " +
    "batch doc_ids (the overlap subtraction) and a SHINGLELESS re-ingest " +
    "whose standing copy is shingled") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val docRows = docs.as[Streaming.Doc].collect().toSeq.sortBy(_.doc_id)
    val (exist, batch0) = docRows.partition(_.doc_id % 4 != 0)
    // standing copies of a few batch ids — the folded-replay shape the
    // sharded delta must subtract from census, join, and sizes. The
    // copies keep their ORIGINAL (shingled) text…
    val existPlus = exist ++ batch0.take(5)
    // …while one of those re-ingested docs arrives with truncated,
    // shingle-free text (<2 tokens): its standing postings must STILL
    // leave the census, the join, and n_docs, even though the batch doc
    // itself contributes no shingles — batch ids must come from the batch
    // DOCS, not the batch shingles
    val batch = batch0.head.copy(text = "solo") +: batch0.tail
    val base = java.nio.file.Files.createTempDirectory("graft-sharded-delta").toString
    Streaming.writeDocShingleIndex(existPlus.toDF(), base)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(graft.engine.LlmOps.shinglePairsDeltaSharded(
      spark.read.parquet(s"$base/postings"),
      spark.read.parquet(s"$base/postings_bydoc"),
      spark.read.parquet(s"$base/census"),
      batch.toDF()))
    // the unsharded reference receives existing ALREADY anti-joined on the
    // batch ids — exactly what the old ingest step fed it
    val batchIds = batch.map(_.doc_id).toSet
    val want = rows(graft.engine.LlmOps.shinglePairsDelta(
      existPlus.filterNot(d => batchIds(d.doc_id)).toDF(), batch.toDF()))
    assert(got === want, "sharded delta diverged from the unsharded delta")
    assert(got.nonEmpty, "no delta pairs — vacuous parity")
  }

  test("pre-index pair-sink layout resumes: segments/bases holding only " +
    "data/_COMMIT backfill their shingle-index components in place; a " +
    "shard-count mismatch refuses loudly") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val docRows = docs.as[Streaming.Doc].collect().toSeq.sortBy(_.doc_id)
    val (exist, streamed) = docRows.partition(_.doc_id % 5 != 0)
    val (b0, b1) = streamed.splitAt(streamed.length / 2)
    def freshStore(suffix: String): (String, String) = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-preidx-$suffix").toString
      val pairs = s"$base/pairs"
      graft.sources.Sinks.writeSized(
        graft.engine.LlmOps.shinglePairsOfDocs(exist.toDF()), pairs, 2)
      (base, pairs)
    }
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toString).sorted.toSeq
    // control: both batches through the current code
    val (cBase, cPairs) = freshStore("ctl")
    Streaming.shinglePairsIngestBatch(exist.toDF(), b0.toDF(),
      cPairs, s"$cBase/docs", 0L)
    Streaming.shinglePairsIngestBatch(exist.toDF(), b1.toDF(),
      cPairs, s"$cBase/docs", 1L)
    // upgrade path: batch 0's segment written in the PRE-INDEX layout
    // (data + _COMMIT only — simulated by stripping the index components
    // and the seed dir), then batch 1 arrives through the current code
    val (uBase, uPairs) = freshStore("up")
    Streaming.shinglePairsIngestBatch(exist.toDF(), b0.toDF(),
      uPairs, s"$uBase/docs", 0L)
    for (c <- Seq("postings", "postings_bydoc", "census", "shards"))
      graft.sources.Fs.delete(s"$uBase/docs/b=0/$c")
    graft.sources.Fs.delete(s"$uBase/docs/seed")
    Streaming.shinglePairsIngestBatch(exist.toDF(), b1.toDF(),
      uPairs, s"$uBase/docs", 1L)
    assert(rows(uPairs) === rows(cPairs) && rows(uPairs).nonEmpty,
      "pre-index resume diverged from the uninterrupted store")
    // mismatched shard meta (a raised shingleShards constant against
    // live components) errors loudly with the rebuild recipe instead of
    // silently half-pruning
    graft.sources.Fs.writeTextAtomic(s"$uBase/docs/b=1/shards", "99")
    val e = intercept[IllegalArgumentException] {
      Streaming.shinglePairsIngestBatch(exist.toDF(), b1.toDF(),
        uPairs, s"$uBase/docs", 2L)
    }
    assert(e.getMessage.contains("shard counts disagree") &&
      e.getMessage.contains("foldDocSegments"), e.getMessage)
  }

  test("seed-corpus drift re-derives the seed shingle index: a sink resumed " +
    "against a GROWN baseDocs pairs new batches against the live seed, not " +
    "the frozen first-batch one") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val docRows = docs.as[Streaming.Doc].collect().toSeq.sortBy(_.doc_id)
    val (seedAll, streamed) = docRows.partition(_.doc_id % 5 != 0)
    val (seedA, seedGrowth) = seedAll.partition(_.doc_id % 2 != 0)
    val (b0, b1) = streamed.splitAt(streamed.length / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-seed-drift").toString
    val pairs = s"$base/pairs"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(seedA.toDF()), pairs, 2)
    Streaming.shinglePairsIngestBatch(seedA.toDF(), b0.toDF(),
      pairs, s"$base/docs", 0L)
    // the deployment grows the seed corpus between restarts; batch 1 must
    // see seedA ∪ seedGrowth — the frozen-index bug paired it against
    // seedA only, silently
    Streaming.shinglePairsIngestBatch((seedA ++ seedGrowth).toDF(), b1.toDF(),
      pairs, s"$base/docs", 1L)
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toString).sorted.toSeq
    // INDEPENDENT reference: the pre-index discipline computed each
    // batch's delta from the LIVE existing docs (seed at that batch's
    // time ∪ prior segments) with the unsharded delta + standing-key
    // anti-join — replay it by hand
    val ref = java.nio.file.Files.createTempDirectory("graft-seed-ref").toString
    val refPairs = s"$ref/pairs"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(seedA.toDF()), refPairs, 2)
    graft.sources.Sinks.refreshShinglePairs(spark, refPairs,
      seedA.toDF(), b0.toDF())
    graft.sources.Sinks.refreshShinglePairs(spark, refPairs,
      (seedA ++ seedGrowth ++ b0).toDF(), b1.toDF())
    assert(rows(pairs) === rows(refPairs) && rows(pairs).nonEmpty,
      "drifted-seed resume diverged from the live-seed reference")
    // and the drift actually mattered: an (incorrectly) frozen seed would
    // have produced a different store than the control — prove the grown
    // seed contributes pairs batch 1 could only find in seedGrowth
    val frozenBase = java.nio.file.Files.createTempDirectory("graft-seed-frozen").toString
    val fPairs = s"$frozenBase/pairs"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(seedA.toDF()), fPairs, 2)
    Streaming.shinglePairsIngestBatch(seedA.toDF(), b0.toDF(),
      fPairs, s"$frozenBase/docs", 0L)
    Streaming.shinglePairsIngestBatch(seedA.toDF(), b1.toDF(),
      fPairs, s"$frozenBase/docs", 1L)
    assert(rows(pairs) !== rows(fPairs),
      "fixture too weak: the grown seed changed no pairs, drift invisible")
  }

  test("shingle-pair sink AUTO-FOLD: a 12-batch stream keeps the visible doc-segment " +
    "count bounded, pairs equal an unfolded stream, and post-fold replay/misuse behave") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val docRows = docs.as[Streaming.Doc].collect().toSeq.sortBy(_.doc_id)
    val (exist, streamed) = docRows.partition(_.doc_id % 3 != 0)
    val slices = streamed.grouped(math.max(1, streamed.size / 12)).toSeq.take(12)
    val base = java.nio.file.Files.createTempDirectory("graft-pair-fold").toString
    val pairs = s"$base/pairs"
    val docsPath = s"$base/docs"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(exist.toDF()), pairs, 2)
    val foldEvery = 4
    val input = MemoryStream[Streaming.Doc](spark)
    val q = Streaming.startShinglePairsSink(input.toDF(), exist.toDF(),
      pairs, docsPath, s"$base/ckpt", foldEvery = foldEvery)
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    try slices.foreach { s =>
      input.addData(s); q.processAllAvailable()
      counts += Streaming.visibleDocSegmentCount(docsPath)
    } finally q.stop()
    // the fold fires on the batch that reaches the threshold, so the
    // post-batch count is bounded forever — segment discovery and the
    // existing-set union stay O(foldEvery) over an unbounded stream
    assert(counts.max < foldEvery, s"doc-segment counts: ${counts.mkString(",")}")
    assert(counts.count(_ == 0) >= slices.size / foldEvery,
      s"fold never fired: ${counts.mkString(",")}")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // THE fold invariant: folding only reorganizes the doc side, so an
    // identical stream ingested WITHOUT folding lands the exact same pair
    // rows (bit-for-bit — each batch derives the same existing doc SET
    // either way). This is deliberately NOT compared against a one-shot
    // rebuild: 12 incremental deltas evaluate df-caps on a growing census,
    // the documented scheduled-rebuild divergence the 2-batch parity test
    // above covers in its cap-stable regime.
    val pairsPlain = s"$base/pairs_plain"
    graft.sources.Sinks.writeSized(
      graft.engine.LlmOps.shinglePairsOfDocs(exist.toDF()), pairsPlain, 2)
    val input2 = MemoryStream[Streaming.Doc](spark)
    val q2 = Streaming.startShinglePairsSink(input2.toDF(), exist.toDF(),
      pairsPlain, s"$base/docs_plain", s"$base/ckpt_plain",
      foldEvery = Int.MaxValue)
    try slices.foreach { s => input2.addData(s); q2.processAllAvailable() }
    finally q2.stop()
    assert(Streaming.visibleDocSegmentCount(s"$base/docs_plain") === slices.size,
      "control stream unexpectedly folded")
    val want = rows(spark.read.parquet(pairsPlain))
    assert(rows(spark.read.parquet(pairs)) === want,
      "auto-folded stream store diverged from the unfolded stream store")
    assert(want.nonEmpty, "no pairs — vacuous parity")
    // replay of the LAST batch (its segment survives the fold's grace even
    // when it was just folded): existing re-derives through the folded
    // base — a superset holding the batch's own docs — and appends nothing
    Streaming.shinglePairsIngestBatch(exist.toDF(), slices.last.toDF(),
      pairs, docsPath, slices.size - 1L)
    assert(rows(spark.read.parquet(pairs)) === want,
      "post-fold replay changed the pair store")
    // a FRESH-checkpoint restart (batchId reset to 0 whose segment the fold
    // GC already retired) fails loudly instead of silently orphaning docs
    val err = intercept[IllegalArgumentException] {
      Streaming.shinglePairsIngestBatch(exist.toDF(), slices.head.toDF(),
        pairs, docsPath, 0L)
    }
    assert(err.getMessage.contains("watermark"))
  }

  test("pq-index sink: stream-fed code table equals a whole-corpus re-encode " +
    "against the frozen codebook; replay appends nothing") {
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val cut = emb.selectExpr("percentile(vec_id, 0.6)").head.getDouble(0).toLong
    val base = java.nio.file.Files.createTempDirectory("graft-pq-sink").toString
    val dir = s"$base/pq"
    // standing store: frozen centroids + codebook + codes for the first
    // 60% of vectors
    val standing = graft.sources.Stores.pqIndex(spark, sfDir)
    val cb = spark.read.parquet(s"$standing/codebook")
    val centsDf = spark.read.parquet(s"$standing/centroids")
    graft.sources.Sinks.writePqIndex(
      centsDf, cb,
      graft.engine.LlmOps.pqEncodeWithCells(emb.filter(col("vec_id") <= cut), cb,
        graft.engine.LlmOps.centsOf(centsDf)),
      dir)
    val rest = emb.filter(col("vec_id") > cut)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val slices = rest.grouped(math.max(1, rest.size / 3)).toSeq
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = Streaming.startPqIndexSink(
      input.toDF().toDF("vec_id", "embedding"), dir, s"$base/ckpt")
    try slices.foreach { s => input.addData(s); q.processAllAvailable() }
    finally q.stop()
    def rows(df: DataFrame) = df.select("vec_id", "codes", "cell")
      .collect().map(_.toString).sorted.toSeq
    // stream-fed codes ≡ re-encoding the WHOLE corpus with that codebook
    // + centroids
    val whole = rows(graft.engine.LlmOps.pqEncodeWithCells(emb,
      spark.read.parquet(s"$dir/codebook"),
      graft.engine.LlmOps.centsOf(spark.read.parquet(s"$dir/centroids"))))
    assert(rows(spark.read.parquet(s"$dir/codes")) === whole,
      "stream-fed code table diverged from a whole-corpus encode")
    assert(whole.nonEmpty)
    // replay of the last batch: the vec_id anti-join guard appends nothing
    graft.sources.Sinks.refreshPqIndex(spark, dir,
      slices.last.toDF("vec_id", "embedding"))
    assert(rows(spark.read.parquet(s"$dir/codes")) === whole,
      "replayed batch duplicated code rows")
  }

  test("bloom sink: stream-fed filter is byte-identical to a batch build over " +
    "the union; replay changes no byte") {
    val conf = spark.sparkContext.hadoopConfiguration
    def bytesOf(path: String): Seq[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Sinks.readBloomFilter(path, conf).writeTo(bos)
      bos.toByteArray.toSeq
    }
    val toks = graft.engine.Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("ng"))
      .filter(col("ng") =!= "").distinct()
    val seed = toks.filter(md5(col("ng")) < "4")
    val streamed = toks.filter(md5(col("ng")) >= "4")
      .as[String].collect().toSeq.sorted
    val base = java.nio.file.Files.createTempDirectory("graft-bloom-sink").toString
    val dir = s"$base/bloom"
    graft.sources.Sinks.writeBloomFilter(
      seed.stat.bloomFilter("ng", graft.engine.LlmOps.bloomExpectedItems,
        graft.engine.LlmOps.bloomFpp), dir, conf)
    val slices = streamed.grouped(math.max(1, streamed.size / 3)).toSeq
    val input = MemoryStream[String](spark)
    val q = Streaming.startBloomSink(input.toDF().toDF("ng"), dir, "ng", s"$base/ckpt")
    try slices.foreach { s => input.addData(s); q.processAllAvailable() }
    finally q.stop()
    val fullDir = s"$base/bloom_full"
    graft.sources.Sinks.writeBloomFilter(
      toks.stat.bloomFilter("ng", graft.engine.LlmOps.bloomExpectedItems,
        graft.engine.LlmOps.bloomFpp), fullDir, conf)
    assert(bytesOf(dir) === bytesOf(fullDir),
      "stream-fed filter diverged from the union batch build")
    // replay: OR idempotence — re-delivering the last batch changes no byte
    graft.sources.Sinks.refreshBloomFilter(spark, dir, slices.last.toDF("ng"), "ng")
    assert(bytesOf(dir) === bytesOf(fullDir), "replayed batch changed the filter")
  }

  test("file stream source reads the events fixture incrementally") {
    val out = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    // copy the sf0.001 events through the batch normalizer to get µs ts
    graft.engine.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(out)
    val stream = Streaming.eventsFileStream(spark, out)
    assert(stream.isStreaming)
    val q = Streaming.tumblingCounts(stream)
      .writeStream.format("memory").queryName("file_sink").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamTotal = spark.table("file_sink").agg(sum("n")).as[Long].head()
    assert(streamTotal === graft.engine.Tables.events(spark, sfDir).count())
  }

  test("multiline stitch stream: a record emits when its successor header arrives, across batches") {
    val input = MemoryStream[Streaming.RawLine](spark)
    val q = Streaming.stitchRecords(input.toDS())
      .writeStream.format("memory").queryName("stitch_sink").outputMode("append").start()
    try {
      // batch 1: record A (header + continuation) completed by record B's
      // header; B stays open at batch end → only A emits
      input.addData(
        Streaming.RawLine("f1", 1L, 0, "hdr A"),
        Streaming.RawLine("f1", 1L, 1, "    at a1"),
        Streaming.RawLine("f1", 2L, 0, "hdr B"),
        Streaming.RawLine("f1", 2L, 1, "    at b1"))
      q.processAllAvailable()
      assert(spark.table("stitch_sink").as[Streaming.StitchedRecord].collect().toSet ===
        Set(Streaming.StitchedRecord("f1", 1L, 2L, "hdr A", 14L)))
      // batch 2: B grows by one line, then C's header closes it — the
      // cross-batch continuation must land in B, with record ids running on
      input.addData(
        Streaming.RawLine("f1", 2L, 2, "    at b2"),
        Streaming.RawLine("f1", 3L, 0, "hdr C"))
      q.processAllAvailable()
      assert(spark.table("stitch_sink").as[Streaming.StitchedRecord].collect().toSet ===
        Set(
          Streaming.StitchedRecord("f1", 1L, 2L, "hdr A", 14L),
          Streaming.StitchedRecord("f1", 2L, 3L, "hdr B", 23L)))
    } finally q.stop()
  }

  test("template momentum: cross-batch lag carries in state; stream equals batch") {
    def th(template: String, hour: Int, n: Long) =
      Streaming.TemplHour(template, new Timestamp(1704067200000L + hour * 3600000L), n)
    // hours arrive one per micro-batch: the lag for hour h+1 must come
    // from STATE (hour h closed in the previous batch), not from rows
    // co-present in the same batch
    val batches = Seq(
      Seq(th("A <*>", 0, 10L), th("B <*>", 0, 4L)),
      Seq(th("A <*>", 1, 20L), th("B <*>", 1, 2L)),
      Seq(th("A <*>", 2, 5L))) // B silent in hour 2 — no row, no emission
    val input = MemoryStream[Streaming.TemplHour](spark)
    val q = Streaming.templateMomentum(input.toDS())
      .writeStream.format("memory").queryName("mom_sink").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = spark.table("mom_sink").as[Streaming.Momentum].collect().toSet
      assert(streamed === Set(
        Streaming.Momentum(th("A <*>", 0, 0).ws, "A <*>", 10L, None, None),
        Streaming.Momentum(th("B <*>", 0, 0).ws, "B <*>", 4L, None, None),
        Streaming.Momentum(th("A <*>", 1, 0).ws, "A <*>", 20L, Some(10L), Some(2.0)),
        Streaming.Momentum(th("B <*>", 1, 0).ws, "B <*>", 2L, Some(4L), Some(0.5)),
        Streaming.Momentum(th("A <*>", 2, 0).ws, "A <*>", 5L, Some(20L), Some(0.25))))
      // batch application of the same rows produces the identical set
      val batch = Streaming.templateMomentum(batches.flatten.toDS()).collect().toSet
      assert(batch === streamed)
    } finally q.stop()
  }

  test("template debuts: batch-1 sighting silences batch 2; in-batch repeat reports earliest day") {
    def dt(day: Int, template: String) =
      Streaming.DayTemplate(new Timestamp(1704067200000L + day * 86400000L), template)
    val batches = Seq(
      // A debuts on day 2 AND recurs on day 3 within the same batch — the
      // emission must carry day 2; B debuts on day 2.
      Seq(dt(3, "A <*>"), dt(2, "A <*>"), dt(2, "B <*>")),
      // A and B recur (silent); C is the only debut.
      Seq(dt(4, "A <*>"), dt(4, "B <*>"), dt(4, "C <*>")))
    val input = MemoryStream[Streaming.DayTemplate](spark)
    val q = Streaming.templateDebuts(input.toDS())
      .writeStream.format("memory").queryName("debut_sink").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = spark.table("debut_sink").as[Streaming.Debut].collect().toSet
      assert(streamed === Set(
        Streaming.Debut(dt(2, "").day, "A <*>"),
        Streaming.Debut(dt(2, "").day, "B <*>"),
        Streaming.Debut(dt(4, "").day, "C <*>")))
      // batch application (one "batch", empty state) = corpus-wide MIN
      val batch = Streaming.templateDebuts(batches.flatten.toDS()).collect().toSet
      assert(batch === streamed)
    } finally q.stop()
  }

  test("template debuts under LATE data: an earlier event-time day arriving in a later " +
    "batch is NOT revised — first-sighting is arrival-order (documented divergence)") {
    // The scaladoc's in-order precondition, pinned as behavior: once a
    // template's debut is emitted, Append mode cannot retract it, so a
    // late-arriving EARLIER day leaves the recorded debut at the
    // arrival-order first. A one-shot batch run over the same rows (empty
    // state, corpus-wide MIN) reports the true earlier day — the exact
    // delta an operator sees between the stream and its batch backfill.
    def dt(day: Int, template: String) =
      Streaming.DayTemplate(new Timestamp(1704067200000L + day * 86400000L), template)
    val batches = Seq(
      Seq(dt(5, "A <*>")),  // A first SEEN with day 5
      Seq(dt(2, "A <*>")))  // day 2 arrives late — silent, no revision
    val input = MemoryStream[Streaming.DayTemplate](spark)
    val q = Streaming.templateDebuts(input.toDS())
      .writeStream.format("memory").queryName("debut_late_sink").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = spark.table("debut_late_sink").as[Streaming.Debut].collect().toSet
      assert(streamed === Set(Streaming.Debut(dt(5, "").day, "A <*>")),
        "late data must neither re-emit nor revise an already-emitted debut")
      val batch = Streaming.templateDebuts(batches.flatten.toDS()).collect().toSet
      assert(batch === Set(Streaming.Debut(dt(2, "").day, "A <*>")),
        "the batch backfill sees the true event-time MIN")
    } finally q.stop()
  }
}
