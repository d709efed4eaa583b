package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming operators over the events log (SURVEY.md §2.8 T1–T6), built on
  * the batch≡stream parity principle: every transform here takes a plain
  * DataFrame and works identically on a batch table or a `readStream`
  * source. The batch application is what the DuckDB oracle checks (the
  * `stream_*` entries in SparkEntry.queries); StreamingSpec replays the
  * same rows through MemoryStream and asserts the results agree.
  *
  * Scale notes (100 TB/day ingest): all aggregations key on
  * (window × event_type) or (user_id × session) so state partitions across
  * executors; watermarks bound state size — without one, a 100 TB stream's
  * session store grows forever. The stateful op uses typed
  * flatMapGroupsWithState with event-time timeout for exactly that reason.
  */
object Streaming {

  /** Schema of the events stream (post Tables.events normalization). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // ---- T1/T2/T3: windowed aggregations (work on batch AND stream) ----

  /** T1 × A4: per-hour DDSketch-style log-bucket latency counts — the
    * streaming face of `LogOps.latencySketchRange`. ONE aggregation over
    * (window, type, bucket) keys, so it is append-legal under a watermark
    * and state per key is a single count: the sketch property that bounds
    * streaming state no matter the event rate (bucket cardinality is
    * value-range-log-sized, never ingest-sized). Quantile extraction (the
    * rank walk) is read-side work over the emitted bucket rows, exactly
    * as the batch store serves range queries — a second shuffled
    * aggregation inside the stream would not be append-legal anyway.
    */
  def hourlySketchCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"),
        // THE shared bucket definition — a stream-private copy could drift
        // from the batch store and the rank walk
        graft.engine.LogOps.sketchBucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("bucket"), col("n"))

  /** T1: tumbling 1-hour counts per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** T1 × A4: tumbling 1-hour APPROX distinct users per event type via
    * mergeable Datasketches HLL — the streaming face of
    * `Funcs.hllUnionDaily`. The same mergeability that lets batch daily
    * sketches union into range answers is what makes the aggregation
    * incremental here: each micro-batch folds into the window's sketch
    * state exactly as partitions fold in batch, so stream ≡ batch holds
    * bit-for-bit (StreamingSpec), and state per (window, type) key is a
    * fixed ~4 KB sketch no matter how many users flow through — the
    * bounded-state property a 100 TB/day distinct-count stream needs.
    */
  def tumblingDistinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        hll_sketch_estimate(
          hll_sketch_agg(col("user_id"), graft.engine.Funcs.hllLgK)).as("approx_users"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("approx_users"), col("n"))

  /** T1 × template mining: tumbling 1-hour counts per masked log
    * TEMPLATE — the live dashboard face of `LogOps.templateMine`. The
    * mask is a stateless per-row map, so the only streaming state is the
    * (window × template) count — template cardinality is dozens, making
    * this the cheapest possible keyed state even at full ingest rate.
    * New line shapes appear as new keys with no schema change (the
    * add-a-pattern-not-a-scan property, streaming edition).
    */
  def templateCounts(events: DataFrame): DataFrame =
    events
      .select(col("ts"), graft.engine.LogOps.syntheticLine.as("line"))
      .withColumn("template", regexp_replace(col("line"), "[0-9]+", "<*>"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("template"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("template"), col("n"))

  /** T10: streaming distribution-drift monitor — each tumbling 1-hour
    * window's `value` histogram scored with KL divergence against a
    * STATIC baseline profile (the standing corpus), the continuous
    * data-quality check behind `log_drift_daily`'s batch form. Built
    * streaming-legal: Structured Streaming allows ONE stateful
    * aggregation, so the per-window histogram lands as ten conditional
    * counts in a single groupBy (state = 10 longs per window — bounded),
    * and the KL folds in a stateless projection against the broadcast
    * baseline row. Bins the stream has but the baseline lacks cannot
    * enter the KL (log of zero) — they surface as `n_unseen`, which in
    * production is the loudest drift signal of all (values in a region
    * the baseline corpus never saw).
    */
  def driftAgainstBaseline(events: DataFrame, baseline: DataFrame): DataFrame = {
    val bins = 10
    val bounds = baseline.agg(min("value").as("vmin"), max("value").as("vmax"))
    def binOf: Column =
      when(col("vmax") > col("vmin"),
        least(lit(bins - 1),
          floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * bins)
            .cast("int")))
        .otherwise(0)
    // baseline profile as ONE broadcastable row: g0..g9 + total
    val gRow = baseline.crossJoin(broadcast(bounds))
      .select(binOf.as("bin"))
      .agg(
        sum(when(col("bin") === 0, 1L).otherwise(0L)).as("g0"),
        (1 until bins).map(b =>
          sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"g$b")) :+
          count(lit(1)).as("ng"): _*)
    val windowed = events.crossJoin(broadcast(bounds))
      .select(col("ts"), binOf.as("bin"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        sum(when(col("bin") === 0, 1L).otherwise(0L)).as("c0"),
        (1 until bins).map(b =>
          sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
          count(lit(1)).as("n"): _*)
    val klTerms = (0 until bins).map { b =>
      val (cb, gb) = (col(s"c$b"), col(s"g$b"))
      when(cb > 0 && gb > 0,
        (cb.cast("double") / col("n"))
          * log((cb.cast("double") * col("ng")) / (col("n").cast("double") * gb)))
        .otherwise(lit(0.0))
    }
    val unseenTerms = (0 until bins).map { b =>
      when(col(s"c$b") > 0 && col(s"g$b") === 0, col(s"c$b")).otherwise(lit(0L))
    }
    windowed.crossJoin(broadcast(gRow))
      .select(col("w.start").as("ws"), col("n").as("n_events"),
        (round(klTerms.reduce(_ + _), 4) + lit(0.0)).as("kl"),
        unseenTerms.reduce(_ + _).as("n_unseen"))
  }

  /** Saved alerts evaluated CONTINUOUSLY: the streaming face of
    * `LogOps.alertRules`. The rule table joins the raw stream BEFORE the
    * windowed aggregation — Structured Streaming forbids a join downstream
    * of a streaming aggregation, and the pre-agg shape is also the right
    * plan at scale: the stream-static join is a map-side
    * BroadcastHashJoin (no state, no shuffle), the day-window count then
    * keys on (window, rule), and the threshold is a stateless post-agg
    * filter. A rule whose threshold is never met (rule 4) costs only its
    * share of the broadcast; events matching no rule drop at the map
    * side and never enter state. State per key is one count — bounded by
    * (days in flight × rules), not ingest volume.
    *
    * Incremental-correctness argument (pinned by StreamingSpec): COUNT is
    * a decomposable aggregate, so the per-window count after any number of
    * micro-batches equals the batch count; the threshold filter is a pure
    * function of the finalized count, so append-mode emissions (after the
    * watermark closes a day) equal the batch firings exactly.
    */
  def alertFirings(events: DataFrame, rules: DataFrame): DataFrame =
    events
      .join(broadcast(rules), col("event_type") === col("rule_type"))
      .groupBy(window(col("ts"), "1 day").as("w"),
        col("rule_id"), col("event_type"), col("min_n"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= col("min_n"))
      .select(col("rule_id"), col("w.start").as("day"), col("event_type"),
        col("n"), col("min_n"))

  /** T2: sliding 1-hour window, 15-minute slide. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))

  /** T3: gap-based session window per user (streaming twin of
    * LogOps.winSessionize — same 30-min gap rule).
    */
  def sessionStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  // ---- T4/T5: watermarked variants (streaming-only semantics) ----

  /** T4: tumbling counts that tolerate ≤ 1 h of event-time lateness; later
    * rows are dropped and their windows finalized.
    */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "1 hour"))

  /** T5: in-stream dedup on event_id within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id")

  // ---- T6: arbitrary stateful processing ----

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double)
  final case class BurstState(errors: Long, alerts: Long)
  final case class Alert(user_id: Long, n_errors: Long, alert_no: Long)

  /** T6: per-user error-burst detector — emits an alert each time a user
    * accumulates 3 errors. State is one (errors, alerts) pair per user,
    * partitioned by user_id across executors; an event-time timeout would
    * evict idle users in production (omitted here so the batch twin —
    * floor(total_errors/3) alerts per user — is exactly comparable).
    */
  def errorBursts(events: Dataset[Ev]): Dataset[Alert] = {
    import events.sparkSession.implicits._
    events
      .filter(_.event_type == "error")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BurstState, Alert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[BurstState]) =>
          var st = state.getOption.getOrElse(BurstState(0L, 0L))
          val alerts = scala.collection.mutable.ArrayBuffer.empty[Alert]
          rows.foreach { _ =>
            st = st.copy(errors = st.errors + 1)
            if (st.errors % 3 == 0) {
              st = st.copy(alerts = st.alerts + 1)
              alerts += Alert(userId, st.errors, st.alerts)
            }
          }
          state.update(st)
          alerts.iterator
      }
  }

  // ---- T6 applied to trend detection: template momentum ----

  final case class TemplHour(template: String, ws: java.sql.Timestamp, n: Long)
  final case class MomState(wsMillis: Long, n: Long)
  final case class Momentum(ws: java.sql.Timestamp, template: String, n: Long,
                            prev_n: Option[Long], momentum: Option[Double])

  /** T6: hour-over-hour template momentum — for each masked template, this
    * hour's volume over its PREVIOUS SEEN hour's volume (the streaming
    * form of `LAG(n) OVER (PARTITION BY template ORDER BY ws)`). Consumes
    * the hourly rollup stream [[templateCounts]] produces, not raw events
    * — chaining the momentum fold directly onto a streaming windowed
    * aggregation would need two stateful operators in one query; feeding
    * it closed windows (foreachBatch or a downstream job) keeps each query
    * single-stateful and is how a production pipeline layers it anyway.
    *
    * State per template is ONE (ws, n) pair — constant no matter how long
    * the stream runs, partitioned across executors by template. A
    * template's first-ever hour emits null prev/momentum, exactly like
    * LAG's first row. Within a micro-batch rows sort by ws before the
    * fold (Spark does not order rows inside a group); across batches the
    * state carries the last seen hour, so stream ≡ batch — spec-pinned by
    * replaying the same hours through MemoryStream.
    */
  def templateMomentum(hourly: Dataset[TemplHour]): Dataset[Momentum] = {
    import hourly.sparkSession.implicits._
    hourly
      .groupByKey(_.template)
      .flatMapGroupsWithState[MomState, Momentum](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (template: String, rows: Iterator[TemplHour], state: GroupState[MomState]) =>
          val sorted = rows.toIndexedSeq.sortBy(_.ws.getTime)
          var prev = state.getOption
          val out = sorted.map { r =>
            val p = prev
            prev = Some(MomState(r.ws.getTime, r.n))
            Momentum(r.ws, template, r.n, p.map(_.n),
              p.map(s => r.n.toDouble / s.n))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  final case class DayTemplate(day: java.sql.Timestamp, template: String)
  final case class Debut(day: java.sql.Timestamp, template: String)

  /** T6 × template-registry twin: first-sighting detection — the stateful
    * face of [[graft.engine.LogOps.newTemplates]]. State per template is
    * ONE flag (its debut day), so the state store is registry-sized
    * (template cardinality, dozens), never ingest-sized; the upstream
    * dropDuplicates caps each group's per-batch iterator at distinct
    * (day, template) rows, so the in-group sort touches days, not raw
    * events — at 100 TB the stateful fold runs over metadata.
    *
    * Debut day is exact (MIN over event time) within a micro-batch; across
    * batches it is first-sighting in arrival order, which equals the batch
    * MIN whenever days arrive in event-time order — the log-ingest norm,
    * and the only claim the batch twin needs (one batch ⇒ exact MIN).
    * StreamingSpec pins both: a template seen in batch 1 stays silent in
    * batch 2, and a template debuting twice WITHIN a batch reports its
    * earliest day. Under LATE data the divergence is one-sided and
    * unfixable in Append mode (an emitted debut cannot be retracted):
    * an earlier day arriving after the debut emission is silently
    * ignored, while the batch backfill reports the true MIN —
    * StreamingSpec pins that delta explicitly.
    */
  def templateDebuts(lines: Dataset[DayTemplate]): Dataset[Debut] = {
    import lines.sparkSession.implicits._
    lines
      .dropDuplicates("template", "day")
      .groupByKey(_.template)
      .flatMapGroupsWithState[Long, Debut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (template: String, rows: Iterator[DayTemplate], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_.day.getTime)
            state.update(first.day.getTime)
            Iterator.single(Debut(first.day, template))
          }
      }
  }

  // ---- T6 applied to ingestion: streaming multiline record stitching ----

  /** Document-shaped stream row for the search-index ingest sink. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  final case class RawLine(source: String, doc_id: Long, line_no: Int, line: String)
  final case class StitchState(header: String, nLines: Long, nChars: Long, recordNo: Long)
  final case class StitchedRecord(source: String, record_id: Long, n_lines: Long,
                                  header: String, n_chars: Long)

  /** Streaming twin of [[graft.engine.LogOps.multilineStitch]]: tail a log
    * stream and reattach continuation lines to their header record as they
    * arrive. State per file key is ONE open record (header + running
    * counters) — constant size no matter how long the file runs; a record
    * is emitted the moment its successor header arrives, which is the
    * only point a tailer can know the record is complete. The final
    * in-flight record intentionally stays in state (it may still be
    * growing); production adds an event-time timeout flush
    * (`GroupStateTimeout.EventTimeTimeout`) to cap emission latency.
    *
    * Within a micro-batch the group's rows are sorted by (doc_id, line_no)
    * before folding — Spark does not order rows inside a group, and the
    * file-tail contract only guarantees order per source ACROSS batches.
    */
  def stitchRecords(lines: Dataset[RawLine]): Dataset[StitchedRecord] = {
    import lines.sparkSession.implicits._
    lines
      .groupByKey(_.source)
      .flatMapGroupsWithState[StitchState, StitchedRecord](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[RawLine], state: GroupState[StitchState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[StitchedRecord]
          rows.toSeq.sortBy(l => (l.doc_id, l.line_no)).foreach { l =>
            val isHeader = !l.line.startsWith("    at ")
            if (isHeader) {
              if (st != null)
                out += StitchedRecord(source, st.recordNo, st.nLines, st.header, st.nChars)
              val no = if (st == null) 1L else st.recordNo + 1L
              st = StitchState(l.line, 1L, l.line.length.toLong, no)
            } else if (st != null) {
              st = st.copy(nLines = st.nLines + 1, nChars = st.nChars + l.line.length)
            }
            // a continuation with no open record (stream began mid-record)
            // is dropped: a tailer cannot reconstruct a header it never saw
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  // ---- T7: stream-stream join ----

  /** T7: watermarked stream-stream inner join — each click joined to the
    * same user's purchases in the following hour (funnel attribution).
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so the state store retains each side only until the other
    * side's watermark passes the join horizon — the state that makes
    * stream-stream joins feasible on an unbounded 100 TB/day log. On batch
    * frames the watermarks are no-ops and the same code is the oracle twin.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    // Both time bounds are expressed directly on the raw timestamp columns:
    // StreamingJoinHelper only derives state-eviction watermarks from
    // linear arithmetic over the event-time columns themselves, so a
    // unix_micros() spelling of the same inequality would join correctly
    // but never trim join state (unbounded growth on a real stream).
    c.join(p,
        col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("click_user").as("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"),
        round(col("value"), 4).as("purchase_value"))
  }

  // ---- T9: stream-static join ----

  /** T9: stream-STATIC join — newly arriving documents deduplicated
    * against the STANDING corpus: a left-anti join on the md5 digest, the
    * streaming twin of `LlmOps.incrementalDedup`'s exact stage and the
    * shape a continuous-ingest pipeline actually runs (each micro-batch of
    * crawled docs checked against the persisted corpus before landing).
    * Stream-static is its own Structured Streaming join mode with the two
    * properties that matter at 100 TB: it needs NO state store (nothing is
    * buffered across micro-batches — the static side is the state), and
    * the static side is RE-PLANNED per micro-batch, so a corpus refresh
    * (yesterday's compaction landing new parquet) is picked up without
    * restarting the query. On batch frames the same code is its own
    * oracle twin (StreamingSpec pins stream ≡ batch).
    */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs
      .withColumn("text_hash", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")
      // survivors land in the same store the corpus came from — the
      // internal digest column must not leak into the landed schema
      .drop("text_hash")

  // ---- S6: streaming sources ----

  /** S5 (streaming sink): continuous ingestion into the date-partitioned
    * layout Sinks.writeEventsByDay produces for batch — new micro-batches
    * append `day=` partitioned parquet exactly-once (checkpoint + sink
    * manifest). This is the landing zone of a 100 TB/day pipeline: batch
    * queries over the result prune by day exactly as StorageLayoutSpec
    * proves for the batch writer.
    */
  def startDayPartitionedSink(events: DataFrame, path: String,
                              checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.withColumn("day", to_date(col("ts")))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .outputMode("append")
      .start()

  /** S5 (foreachBatch sink): the escape hatch every production pipeline
    * reaches for when the target needs write semantics Spark's built-in
    * sinks don't provide (JDBC upsert, lakehouse MERGE, dedup-on-write).
    * Exactly-once here derives from idempotence, the contract foreachBatch
    * actually offers: each micro-batch writes its per-type counts into a
    * directory keyed by its monotonic `batchId`, with mode("overwrite"),
    * so a replayed batch (post-crash re-delivery is at-least-once)
    * overwrites its own previous output instead of duplicating it. The
    * per-batch body is a normal batch write — at 100 TB/day each
    * micro-batch is just another partitioned append, and the checkpoint
    * advances only after the body returns.
    */
  def startForeachBatchSink(events: DataFrame, path: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy("event_type").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .start()

  /** S5 (keyed-upsert sink): the streaming twin of `log_compact_latest` —
    * MERGE-style latest-record-wins into a standing keyed table. Each
    * micro-batch compacts itself per (user_id, event_type), then merges
    * with the table state: newer (ts, event_id) wins the value columns,
    * per-key version counts accumulate. Exactly-once under at-least-once
    * replay comes from MVCC versioning rather than blind overwrite: batch
    * N reads the latest table version with id < N and writes version N,
    * so a replayed batch N re-reads the SAME pre-state and rewrites the
    * same post-state — idempotent by construction (the plain-parquet form
    * of a lakehouse MERGE transaction log; StreamingSpec's replay test
    * pins it). At 100 TB the table would be hash-bucketed by key and the
    * merge would rewrite only touched buckets — the version protocol is
    * unchanged.
    */
  def startKeyedUpsertSink(events: DataFrame, path: String,
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, path, batchId)
      }
      .start()

  /** One keyed-upsert MERGE step (factored out so the replay spec can
    * drive a crash re-delivery directly). The table is a [[graft.sources
    * .StoreLog]] of versions `gen-<batchId>`; its current version is the
    * table.
    */
  def upsertBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val key = Window.partitionBy("user_id", "event_type")
    val compacted = batch
      .select(col("user_id"), col("event_type"), col("ts"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(key.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_versions", count(lit(1)).over(key))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
        col("value").as("last_value"), col("event_id").as("last_event_id"),
        col("n_versions"))
    // pre-state = latest version STRICTLY BEFORE this batch — a replayed
    // batch must merge against what it saw the first time, never its own
    // output (reading version batchId here would double-count on re-delivery)
    val merged = preState(batch, path, batchId).fold(compacted) { state =>
      state.unionByName(compacted)
        .withColumn("rn", row_number().over(
          key.orderBy(col("last_ts").desc, col("last_event_id").desc)))
        .withColumn("nv", sum("n_versions").over(key))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("last_ts"),
          col("last_value"), col("last_event_id"), col("nv").as("n_versions"))
    }
    commitTableVersion(merged, path, batchId)
  }

  /** S5 (sketch-ingest sink): streaming micro-batches folded into a
    * standing DDSketch latency store — the ingest half that closes the
    * `log_latency_sketch_served` loop: stream → standing (event_type, day,
    * bucket, n) counts → zero-rescan range quantiles. Each batch's rows
    * bucket with THE shared bucket definition and merge into the store by
    * count addition (the DDSketch merge). Exactly-once under at-least-once
    * replay comes from the same MVCC versioning as
    * [[startKeyedUpsertSink]]: batch N reads the latest table version with
    * id < N and writes version N, so a replayed batch re-reads the SAME
    * pre-state and rewrites the same post-state — idempotent by
    * construction (StreamingSpec's replay test pins it, and pins the
    * stream-fed table equal to a batch-built [[graft.sources.Sinks.writeLatencySketches]]
    * store over the same rows). The state is O(days × types × buckets) ≈
    * metadata, so rewriting it per batch is cheap; at 100 TB the table
    * would be day-partitioned with only touched days rewritten — the
    * version protocol is unchanged.
    */
  def startLatencySketchSink(events: DataFrame, path: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sketchUpsertBatch(batch, path, batchId)
      }
      .start()

  /** One sketch-merge MVCC step (factored out so the replay spec can drive
    * a crash re-delivery directly), on the same versioned table as
    * [[upsertBatch]]; rows are (event_type, day, bucket, n).
    */
  def sketchUpsertBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val counts = batch
      .groupBy(to_date(col("ts")).as("day"), col("event_type"),
        graft.engine.LogOps.sketchBucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
    // pre-state = latest version STRICTLY BEFORE this batch (see upsertBatch)
    val merged = preState(batch, path, batchId).fold(counts)(
      _.unionByName(counts)
        .groupBy("day", "event_type", "bucket")
        .agg(sum("n").as("n")))
    commitTableVersion(merged, path, batchId)
  }

  /** A versioned upsert table: versions `gen-<batchId>` of a
    * [[graft.sources.StoreLog]], no segments.
    */
  private def tableLog(path: String) = new graft.sources.StoreLog(path)

  /** The newest committed version before `batchId`, read. Its directory
    * survives the commit of `batchId` (GC keeps at least two versions), so
    * a replay of `batchId` reads it again.
    */
  private def preState(batch: DataFrame, path: String, batchId: Long): Option[DataFrame] =
    tableLog(path).versions.filter(_.id < batchId).lastOption
      .map(v => batch.sparkSession.read.parquet(v.dir))

  private def commitTableVersion(merged: DataFrame, path: String, batchId: Long): Unit = {
    val log = tableLog(path)
    log.commitVersion(merged.sparkSession, log.versionDir(batchId), -1L)(
      merged.write.mode("overwrite").parquet(_)): Unit
  }

  /** T11 (search-index ingest sink): streaming documents folded into a
    * standing [[graft.sources.Sinks.writePostings]] posting store — the
    * live-log-search loop: lines stream in, and conjunctive / BM25 /
    * phrase probes answer from the store seconds later with zero corpus
    * rescans. Each micro-batch lands as an immutable per-batch SEGMENT via
    * [[graft.sources.Sinks.ingestPostingsSegment]]; idempotence under
    * at-least-once replay is by construction (a re-delivered batch
    * rewrites its own `b=<batchId>` segment with identical rows under the
    * [[graft.sources.StoreLog]] replay rule), and probes only see segments
    * whose `_COMMIT` marker exists. StreamingSpec proves the
    * stream-fed store answers conjunctive/BM25/phrase probes identically
    * to a batch-built [[graft.sources.Sinks.writePostings]] store over the
    * same docs, and that a crash re-delivery changes nothing.
    *
    * `compactEvery` closes the LSM loop WITHOUT an operator in it: once
    * the visible segment count reaches the threshold, the batch that
    * crossed it runs [[graft.sources.Sinks.compactPostings]] inline —
    * safe mid-stream because compaction commits a new store version with
    * one marker (concurrent probes stay isolated; a crash leaves the old
    * version live; a replayed batch re-triggering compaction folds a
    * now-empty visible set and no-ops). Probe cost is thereby bounded at
    * O(compactEvery) segments no matter how long the stream lives.
    */
  def startPostingsSink(docs: DataFrame, path: String,
                        checkpoint: String,
                        buckets: Int = 64,
                        compactEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.sources.Sinks.ingestPostingsSegment(
          spark, path, batch, batchId, buckets)
        if (graft.sources.Sinks.visibleSegmentCount(spark, path) >= compactEvery)
          graft.sources.Sinks.compactPostings(spark, path)
      }
      .start()

  /** T12 (near-dup pair ingest sink): streaming documents folded into a
    * standing shingle-pair store ([[graft.sources.Stores.shinglePairs]]
    * layout) — live near-dup detection: docs stream in, and the
    * filter/cluster consumers probe an up-to-date (id_a, id_b, jaccard)
    * pair set seconds later without ever re-running the corpus-wide
    * expansion. Each micro-batch lands its DOCS as an immutable segment
    * under `docsPath/b=<batchId>` (with a `_COMMIT` marker written last),
    * so the ingest step always knows the accumulated corpus; the batch's
    * delta pairs then append via
    * [[graft.sources.Sinks.refreshShinglePairs]] with existing = `baseDocs`
    * ∪ segments committed STRICTLY BEFORE this batch.
    *
    * Idempotent under at-least-once replay twice over: a re-delivered
    * batch (a) rewrites its own doc segment with identical rows, its
    * marker dropped first ([[graft.sources.StoreLog]]'s replay rule), and (b)
    * re-derives the SAME existing set (strictly-before excludes its own
    * segment — which also prevents the batch pairing against itself), so
    * the pair append's standing-key anti-join drops every re-derived pair.
    * StreamingSpec proves stream-fed ≡ batch-built over the union corpus
    * and replay stability. `baseDocs` must carry the same columns as the
    * stream (doc_id, text, lang, source) and the standing store must exist
    * (build it with [[graft.sources.Sinks.writeSized]] over
    * [[graft.engine.LlmOps.shinglePairsOfDocs]], or via the Stores
    * registry). The df-cap stability contract is refreshShinglePairs';
    * a cap-boundary crossing is the scheduled-rebuild case there too.
    *
    * At 100 TB two costs govern (both measured, SCALE.md §6j): the
    * per-batch delta cost, and the strictly-before reconstruction. The
    * delta is served from the STANDING doc-side shingle index each
    * component (seed / fold base / segment) maintains next to its docs —
    * shard-partitioned postings + a by-doc copy + a census — so a batch
    * pays batch shingling, a vocabulary-sized census merge, and posting
    * scans PRUNED to its touched shingle shards
    * ([[graft.engine.LlmOps.shinglePairsDeltaSharded]]); before r12 the
    * step re-shingled the ENTIRE existing corpus text per batch
    * (8–13 s/batch at the ×10 soak, flat across batches — the cost the
    * index exists to remove). The reconstruction unions one component per
    * prior batch — which `foldEvery` bounds: once the visible doc-segment
    * count reaches the threshold, the batch that crossed it folds every
    * visible segment into one consolidated doc-side version
    * ([[foldDocSegments]] — the postings store's every-N compaction
    * discipline applied to the doc side, index components folded with the
    * docs), so segment discovery and the existing-set union stay
    * O(foldEvery) no matter how long the stream lives. The pair rows
    * themselves never need rewriting.
    */
  def startShinglePairsSink(docs: DataFrame, baseDocs: DataFrame,
                            pairsPath: String, docsPath: String,
                            checkpoint: String,
                            foldEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val visible =
          shinglePairsIngestBatch(baseDocs, batch, pairsPath, docsPath, batchId)
        if (visible >= foldEvery)
          foldDocSegments(batch.sparkSession, docsPath)
      }
      .start()

  /** One pair-ingest step (factored out so the replay spec can drive a
    * crash re-delivery directly); returns the visible doc-segment count
    * after the batch — the auto-fold trigger input, derived from the
    * step's own directory snapshot so the wrapper pays no extra listing.
    * See [[startShinglePairsSink]].
    */
  def shinglePairsIngestBatch(baseDocs: DataFrame, batch: DataFrame,
                              pairsPath: String, docsPath: String,
                              batchId: Long): Int = {
    val spark = batch.sparkSession
    val log = docLog(docsPath)
    // ONE driver-side snapshot of the doc side per batch: it serves the
    // guard, the existing-set derivation, AND the returned visible count
    // (on HDFS/S3A each extra resolution is a remote LIST round-trip per
    // micro-batch)
    val snap = log.snapshot
    log.guard(batchId, snap, "pair ingest")
    // the seed corpus's shingle-index components materialize ONCE (marker-
    // guarded): the static pre-stream docs never need re-shingling again
    ensureDocSeedIndex(spark, docsPath, baseDocs)
    val seg = log.segmentDir(batchId)
    log.writeSegment(batchId) { dir =>
      batch.write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$dir/data")
      // the segment's own doc-side shingle-index components, derived from
      // the LANDED data so a replay re-derives byte-identical components
      writeDocShingleIndex(spark.read.parquet(s"$dir/data"), dir)
    }
    // strictly-before: replays re-derive the same existing set, and the
    // batch can never pair against its own just-landed segment. A replay
    // that lands AFTER its batch was folded (crash between fold and the
    // checkpoint commit) reads the folded version — a superset containing
    // its own docs — so the batch's doc_ids are anti-joined OUT of the
    // existing side (inside shinglePairsDeltaSharded, via the dshard-
    // pruned overlap subtraction): the delta's df census then counts
    // every shingle exactly as the original run did (a lingering batch
    // copy would inflate dfs and, at a binding cap boundary, flip a
    // keep-set decision into pairs no crash-free run produced). With the
    // batch excluded, the re-derived delta is identical and the
    // standing-key anti-join drops all of it — idempotent in every cap
    // regime.
    val comps = (s"$docsPath/seed" +: snap.current.map(_.dir).toSeq) ++
      snap.segments.filter(_._1 < batchId).map(_._2)
    // one-time in-place migration: a version/segment committed BEFORE the
    // doc-side index existed (pre-index layout: data/_COMMIT only) — or
    // whose index write crashed before its `shards` meta landed —
    // re-derives its components from the landed docs here, so a resumed
    // pre-index sink upgrades instead of throwing PATH_NOT_FOUND. The
    // seed is ensureDocSeedIndex's job above (it has no data/ directory).
    comps.filter(_ != s"$docsPath/seed")
      .filterNot(c => graft.sources.Fs.exists(s"$c/shards"))
      .foreach { c =>
        System.err.println(s"[graft] backfilling doc shingle index at $c")
        writeDocShingleIndex(spark.read.parquet(s"$c/data"), c)
      }
    val batchDocs = spark.read.parquet(s"$seg/data")
    val (posts, bydoc, census, nShards) = readDocShingleIndex(spark, comps)
    graft.sources.Sinks.refreshShinglePairsSharded(
      spark, pairsPath, posts, bydoc, census, batchDocs, nShards)
    // visible count AFTER this batch — the auto-fold trigger input
    snap.segments.count(_._1 != batchId) + (if (batchId > snap.watermark) 1 else 0)
  }

  /** Write the doc-side shingle-index components for `docs` under `dir`:
    * `postings` (doc_id, sh) partitioned by `shard = pmod(hash(sh), S)`,
    * `postings_bydoc` partitioned by `dshard = pmod(hash(doc_id), S)`,
    * and the vocabulary-sized `census` (sh, df). One shared writer for
    * seed, segment, and fold, so no component can ever shingle
    * differently from another.
    */
  private[graft] def writeDocShingleIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val nShards = graft.engine.LlmOps.shingleShards
    // the shingling runs ONCE, streamed straight into the postings write
    // (the `dshard` column rides along); the other two faces derive from
    // a columnar RE-READ of what was just written — re-shingling per face
    // tripled the build cost, and localCheckpoint'ing the exploded rows
    // measured WORSE than either (materializing the fanout costs more
    // than the codegen'd recompute it saves)
    graft.engine.LlmOps.bigramShingles(docs)
      .withColumn("shard", pmod(hash(col("sh")), lit(nShards)))
      .withColumn("dshard", pmod(hash(col("doc_id")), lit(nShards)))
      .repartition(col("shard"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("shard").parquet(s"$dir/postings")
    val back = spark.read.parquet(s"$dir/postings")
    back.select("doc_id", "sh", "dshard")
      .repartition(col("dshard"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("dshard").parquet(s"$dir/postings_bydoc")
    back.groupBy("sh").agg(count(lit(1)).as("df"))
      .withColumn("shard", pmod(hash(col("sh")), lit(nShards)))
      .repartition(col("shard"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("shard").parquet(s"$dir/census")
    // written LAST: its presence marks the component's index complete at
    // this shard count — the reader's backfill-detection AND
    // shard-count-consistency key (a crashed partial write redoes the
    // whole component, each face is mode=overwrite)
    graft.sources.Fs.writeTextAtomic(s"$dir/shards", nShards.toString)
  }

  /** Idempotent materialization of the SEED corpus's index components
    * under `docsPath/seed`, guarded by a FINGERPRINT of the live
    * `baseDocs` relation (doc count + wrapped sum of `xxhash64(doc_id)`)
    * rather than a frozen first-batch marker: a sink restarted against a
    * grown/shrunk/replaced seed corpus detects the drift and re-derives —
    * the pre-index path re-read the live relation every batch, and a
    * silently stale seed index would drop or resurrect pairs with no
    * error. (`bit_xor`, not `sum`: order-independent like a sum but can
    * never hit the ANSI long-overflow error; the count term catches the
    * re-keyed-duplicate case XOR alone would cancel.)
    * The check costs one slim id-column scan of the seed per batch
    * (same order as the delta's n_docs pass, nothing like the per-batch
    * corpus re-shingle it replaced). Contract: seed doc CONTENT is
    * immutable per id (an in-place text edit under an unchanged doc_id is
    * not detected — the scheduled-rebuild discipline, like every cap/
    * codebook freeze here); add/remove/re-key is. A missing `shards` meta
    * (a pre-meta seed) also re-derives.
    */
  private def ensureDocSeedIndex(spark: SparkSession, docsPath: String,
                                 baseDocs: DataFrame): Unit = {
    val dir = s"$docsPath/seed"
    val fp = {
      val r = baseDocs
        .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id))")).head()
      s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }
    val stale = graft.sources.Fs.readTextIfExists(s"$dir/_COMMIT")
      .map(_.trim) match {
      case Some(old) if old == fp && graft.sources.Fs.exists(s"$dir/shards") =>
        false
      case Some(old) =>
        System.err.println(s"[graft] seed corpus drifted (fingerprint " +
          s"$old -> $fp) or pre-meta — re-deriving the seed shingle index at $dir")
        true
      case None => true
    }
    if (stale) {
      graft.sources.Fs.delete(s"$dir/_COMMIT")
      writeDocShingleIndex(baseDocs, dir)
      graft.sources.Fs.writeTextAtomic(s"$dir/_COMMIT", fp)
    }
  }

  /** Union the index components of `comps` (seed + folded base + prior
    * segments) into the three frames [[graft.engine.LlmOps
    * .shinglePairsDeltaSharded]] consumes, plus the shard count they were
    * written with. Schemas are explicit so an EMPTY component (a seed
    * with no docs writes no part files) reads as zero rows instead of
    * failing inference; the census union re-sums per (sh, shard). Shard
    * `isin` filters push into every branch of the unions (and through the
    * census re-aggregation — `shard` stays a grouping key), so partition
    * pruning survives the multi-component shape.
    *
    * Every component's `shards` meta must agree — partition values are
    * BAKED at write time, so components written under different
    * [[graft.engine.LlmOps.shingleShards]] constants cannot be pruned by
    * one expression and the read refuses loudly instead of silently
    * dropping the mismatched components' pairs.
    */
  private def readDocShingleIndex(spark: SparkSession, comps: Seq[String])
      : (DataFrame, DataFrame, DataFrame, Int) = {
    import org.apache.spark.sql.types._
    val metas = comps.map { c =>
      c -> graft.sources.Fs.readTextIfExists(s"$c/shards").map(_.trim.toInt)
        .getOrElse(throw new IllegalStateException(
          s"doc shingle index component $c has no `shards` meta — " +
            "incomplete index write; re-run the backfill (delete nothing, " +
            "re-deliver the batch) or fold"))
    }
    require(metas.map(_._2).distinct.size == 1,
      "doc shingle index shard counts disagree across components (" +
        metas.map { case (c, s) => s"$c=$s" }.mkString(", ") +
        ") — raising graft.engine.LlmOps.shingleShards against a live " +
        "sink requires a rebuild: delete '<docsPath>/seed/_COMMIT' (the " +
        "seed re-derives) and run foldDocSegments (segments re-derive) " +
        "before the next batch")
    val postSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", StringType), StructField("shard", IntegerType)))
    val bydocSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", StringType), StructField("dshard", IntegerType)))
    val censusSchema = StructType(Seq(StructField("sh", StringType),
      StructField("df", LongType), StructField("shard", IntegerType)))
    val posts = comps.map(c => spark.read.schema(postSchema).parquet(s"$c/postings"))
      .reduce(_ unionByName _)
    val bydoc = comps.map(c => spark.read.schema(bydocSchema).parquet(s"$c/postings_bydoc"))
      .reduce(_ unionByName _)
    val census = comps.map(c => spark.read.schema(censusSchema).parquet(s"$c/census"))
      .reduce(_ unionByName _)
      .groupBy("sh", "shard")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"))
    (posts, bydoc, census, metas.head._2)
  }

  /** Fold every visible doc segment of a pair-ingest sink into ONE new
    * version of its doc-side [[graft.sources.StoreLog]] — the doc-side
    * compaction that bounds the existing-set union at O(foldEvery) parts,
    * under the same commit protocol as the posting store
    * ([[graft.sources.Sinks.compactPostings]]): the new version is written
    * complete beside the old and becomes current with its `_COMMIT`
    * marker, so a crash mid-fold leaves the old version authoritative, and
    * the log's GC retires what the kept versions no longer need. Cost: one
    * linear rewrite of the accumulated doc corpus per fold — amortized
    * O(corpus/foldEvery) per batch, the standard LSM trade; the pair STORE
    * is never rewritten.
    */
  def foldDocSegments(spark: SparkSession, docsPath: String): Unit = {
    val log = docLog(docsPath)
    val snap = log.snapshot
    if (snap.segments.isEmpty) return // nothing visible to fold
    log.commitVersion(spark, log.newVersionDir(), snap.segments.last._1) { dst =>
      snap.dirs.map(d => spark.read.parquet(s"$d/data")).reduce(_ unionByName _)
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$dst/data")
      // the folded version's shingle-index components, re-derived from the
      // folded data through the ONE shared writer — identical rows to
      // unioning the folded segments' components (bigramShingles is
      // row-wise), so fold ≡ no-fold holds for the index exactly as it
      // does for the docs; cost rides the fold's existing linear rewrite
      writeDocShingleIndex(spark.read.parquet(s"$dst/data"), dst)
    }: Unit
  }

  /** The doc side of a pair-ingest sink: versions under `docsPath/base`,
    * segments `docsPath/b=<batchId>`.
    */
  private def docLog(docsPath: String) =
    new graft.sources.StoreLog(s"$docsPath/base", Some(docsPath))

  /** T13 (ANN-index ingest sink): streaming embedding batches fold into a
    * standing [[graft.sources.Sinks.writePqIndex]] store via
    * [[graft.sources.Sinks.refreshPqIndex]] — the last standing store
    * that lacked a streaming half. Each micro-batch is encoded against
    * the FROZEN standing codebook (refresh never retrains — codebook
    * drift is the scheduled-rebuild contract, like the pair store's
    * df-caps) and its code rows append. Idempotent under at-least-once
    * replay BY CONSTRUCTION: the refresh anti-joins the batch against the
    * standing code table's vec_ids, so a re-delivered (or overlapping)
    * batch appends nothing — no batchId bookkeeping needed. At 100 TB the
    * per-batch cost is the batch encode + one int-column scan of the
    * 32×-compressed code table for the guard; the float corpus is never
    * rescanned (StreamingSpec pins stream-fed ≡ batch-refreshed codes and
    * search-equivalence).
    */
  def startPqIndexSink(vectors: DataFrame, path: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.refreshPqIndex(batch.sparkSession, path, batch)
      }
      .start()

  /** T14 (decontamination-filter ingest sink): streaming eval items
    * OR-merge into the standing Bloom store via
    * [[graft.sources.Sinks.refreshBloomFilter]]. The easiest sink in the
    * file to reason about: Bloom OR is associative, commutative AND
    * idempotent, so at-least-once replay needs no guard at all — a
    * re-delivered batch sets bits that are already set. Rewrite cost is
    * the fixed ~1.2 MiB filter per batch, never corpus- or
    * eval-set-sized; decontamination jobs keep broadcasting the standing
    * bytes (StreamingSpec pins stream-fed ≡ batch-built byte-identically).
    */
  def startBloomSink(items: DataFrame, path: String, itemCol: String,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.refreshBloomFilter(batch.sparkSession, path, batch, itemCol)
      }
      .start()

  /** Committed doc segments still visible over the fold watermark — the
    * auto-fold trigger input.
    */
  private[graft] def visibleDocSegmentCount(docsPath: String): Int =
    docLog(docsPath).snapshot.segments.size

  /** Committed version ids of a keyed-upsert table, oldest first. */
  def tableVersions(path: String): Seq[Long] = tableLog(path).versions.map(_.id)

  /** Current contents of a keyed-upsert table: its latest version. */
  def readKeyedTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(tableLog(path).versions.last.dir)

  /** File-based streaming source over an events-shaped directory: new
    * parquet files appearing under `dir` are treated as stream arrivals
    * (the batch parquet corpus replays as a stream).
    */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Rate-source synthetic events (for soak tests without fixtures). */
  def syntheticEventStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 100).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("error")),
          (col("value") % 3 + 1).cast("int")).as("event_type"),
        (col("value") % 1000).cast("double").as("value"),
        lit("{}").as("props"))
}
