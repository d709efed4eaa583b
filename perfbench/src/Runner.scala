package perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry}
import Main.{materialize, median, quantile, seconds}

/** The workloads. Each is a closed loop with one client thread: the next
  * op starts when the previous one has fully materialized.
  */
object Workloads {
  /** `scale` 1 gives sf0.1's row counts. */
  final case class Spec(ops: Seq[String], scale: Double)

  /** Centroid training and PQ encoding (ann, kmeans, semdedup) and the
    * near-duplicate pair family (minhash, levenshtein, bpe).
    */
  val curation: Seq[String] = Seq("llm_ann_ivfpq", "llm_kmeans", "llm_semdedup",
    "llm_minhash_pairs", "text_levenshtein_pairs", "text_bpe_apply")

  val served: Seq[String] = Seq("log_indexed_search", "log_indexed_phrase",
    "log_indexed_search_ranked", "log_boolean_search_indexed", "log_search_facets_indexed",
    "log_rollup_served", "log_latency_sketch_served", "log_sql_search_served",
    "log_sql_sketch_served", "llm_ann_ivfpq_indexed")

  /** Served read -> the registered raw-scan query with the same oracle SQL.
    * Run over the corpus plus every ingested batch, the twin gives the
    * answer the served read must return after refresh.
    */
  val twin: Map[String, String] = Map(
    "log_indexed_search" -> "log_inverted_search",
    "log_sql_search_served" -> "log_inverted_search",
    "log_indexed_phrase" -> "log_phrase_search",
    "log_indexed_search_ranked" -> "log_search_ranked",
    "log_boolean_search_indexed" -> "log_boolean_search",
    "log_search_facets_indexed" -> "log_search_facets",
    "log_latency_sketch_served" -> "log_latency_sketch_range",
    "log_sql_sketch_served" -> "log_latency_sketch_range")

  val all: Map[String, Spec] = Map(
    "llm_curation" -> Spec(curation, 0.3),
    "served_ingest" -> Spec(served, 0.1))
}

/** Per-layer sums of one traced pass. */
final class PassTrace(val id: Int) {
  val layers: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
}

final case class Runner(spark: SparkSession, a: Main.Args, cores: Int, runDir: File, t0: Long) {
  private val spec = Workloads.all.getOrElse(a.workload,
    throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
  private val ops = spec.ops
  private val scale = spec.scale * a.scale
  private val servedIngest = a.workload == "served_ingest"
  private val baseDir = new File(a.work, s"data/base-$scale").getAbsolutePath
  private val dataDir = new File(a.work, s"data/$scale-s${a.seed}").getAbsolutePath
  private val expectedFile = new File(a.out)
  private val expected: Map[String, String] =
    if (expectedFile.exists()) Json.readFlat(new String(java.nio.file.Files.readAllBytes(expectedFile.toPath), "UTF-8"))
    else Map.empty
  private def expectKey(op: String) = s"${a.workload}@$scale/$op"

  private val tracer: Option[Tracer] = if (a.trace) {
    val t = new Tracer(spark.sparkContext); spark.sparkContext.addSparkListener(t); Some(t)
  } else None

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val readLat = ArrayBuffer.empty[Double]
  private val untracedPasses = ArrayBuffer.empty[Double]
  private val tracedPasses = ArrayBuffer.empty[(Double, PassTrace)]
  /** per-call timings of the metadata, maintenance and session layers */
  private val calls = mutable.Map.empty[String, ArrayBuffer[Double]]
  private def call(k: String, v: Double): Unit = calls.getOrElseUpdate(k, ArrayBuffer.empty) += v
  private def medCall(k: String): Double = calls.get(k).filter(_.nonEmpty).fold(0.0)(v => median(v.toSeq))
  private val context = mutable.LinkedHashMap.empty[String, String]
  private val recorded = mutable.LinkedHashMap.empty[String, String]
  private var outputRows = 0.0

  private def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"perfbench: FAILED $what")
  }

  private def errText(e: Throwable) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Compares a fingerprint with the stored one (recording mode stores it). */
  private def expect(op: String, fp: Check.Fp): Unit =
    if (a.mode == "record") recorded(expectKey(op)) = fp.toString
    else expected.get(expectKey(op)) match {
      case Some(e) if e == fp.toString => ()
      case Some(e) => fail(s"$op: output $fp, expected $e")
      case None => fail(s"$op: no expected fingerprint for ${expectKey(op)}")
    }

  // ------------------------------------------------------------ timed ops

  /** Runs one registered query, timed from the call that builds it until
    * every output row is written to the noop sink. With `observe` the
    * output fingerprint is collected by the same execution. In a traced
    * pass it also reads the Catalyst phase times and, outside the timed
    * interval, the `.count()` time of the same query.
    */
  private def runQuery(op: String, pass: Option[PassTrace], observe: Boolean): Option[(Double, Option[Check.Fp])] = {
    attempted += 1
    val fn = SparkEntry.queries(op)
    def prepared(df: DataFrame) = if (observe) { val (d, o) = Check.observe(df); (d, Some(o)) } else (df, None)
    try {
      val (dt, obs) = (pass, tracer) match {
        case (Some(p), Some(t)) =>
          val opId = t.open(p.id, "op", op)
          val (df, o) = t.span(opId, "engine", "build")(prepared(fn(spark, dataDir)))._1
          val qe = df.queryExecution
          t.span(opId, "catalyst", "plan")(qe.executedPlan)
          val phases = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { ph =>
            p.add(s"catalyst.${ph}_s", phases.get(ph).fold(0.0)(_.durationMs / 1000.0))
          }
          t.span(opId, "exec", "materialize")(materialize(df))
          t.close(opId)
          val dur = t.durationOf(opId)
          p.add("exec.count_s", seconds(t.span(p.id, "count", s"count $op")(fn(spark, dataDir).count()))._2)
          (dur, o)
        case _ =>
          var o: Option[org.apache.spark.sql.Observation] = None
          val (_, dur) = seconds { val (df, ob) = prepared(fn(spark, dataDir)); o = ob; materialize(df) }
          (dur, o)
      }
      System.err.println(f"perfbench: op $op%-28s $dt%.3f s")
      Some((dt, obs.map(Check.result)))
    } catch { case e: Throwable => fail(s"$op: ${errText(e)}"); None }
  }

  /** Per-layer sums of a traced pass, from the spans under it. */
  private def summarize(t: Tracer, p: PassTrace, wall: Double): Unit = {
    val byParent = t.allSpans.groupBy(_.parent)
    def under(id: Int): Seq[Span] = byParent.getOrElse(id, Nil).flatMap(s => s +: under(s.id))
    val spans = under(p.id).filterNot(_.layer == "count")
    val st = new ExecStats
    spans.foreach { s =>
      val x = t.statsOf(s.id)
      st.add(x)
      if (s.layer == "engine") { p.add("engine.build_s", s.durNs / 1e9); p.add("engine.build_jobs", x.jobs.toDouble) }
      if (s.name == "materialize") p.add("exec.materialize_s", s.durNs / 1e9)
    }
    p.add("tables.input_bytes", st.inBytes.toDouble)
    p.add("tables.input_rows", st.inRows.toDouble)
    p.add("exec.executor_run_s", st.runMs / 1000.0)
    p.add("exec.executor_cpu_s", st.cpuNs / 1e9)
    p.add("exec.gc_s", st.gcMs / 1000.0)
    p.add("exec.shuffle_write_bytes", st.shuffleWrite.toDouble)
    p.add("exec.shuffle_read_bytes", st.shuffleRead.toDouble)
    p.add("exec.spill_bytes", st.spill.toDouble)
    p.add("exec.jobs", st.jobs.toDouble)
    p.add("exec.stages", st.stages.toDouble)
    p.add("exec.tasks", st.tasks.toDouble)
    p.layers("exec.task_skew") = st.skew
    p.layers("exec.cpu_util") = st.cpuNs / 1e9 / (wall * cores)
  }

  /** Runs one pass (a served-ingest cycle, or every query once) and
    * records its time: the sum of its timed items.
    */
  private def pass(traced: Boolean): Unit = {
    val p = tracer.filter(_ => traced).map(t => new PassTrace(t.open(0, "pass", s"pass ${tracedPasses.size}")))
    val gc0 = Main.jvmGcSeconds()
    val total =
      if (servedIngest) ingest.cycle(p, warm = false)
      else ops.flatMap(op => runQuery(op, p, observe = false)).map { case (dt, _) => readLat += dt; dt }.sum
    p match {
      case Some(pt) =>
        tracer.get.close(pt.id)
        pt.layers("jvm.gc_s") = Main.jvmGcSeconds() - gc0
        pt.layers("exec.output_rows") = outputRows
        tracedPasses += ((total, pt))
      case None => untracedPasses += total
    }
    if (!servedIngest) Main.settle() // a served-ingest cycle settles itself
  }

  /** Untimed warm pass of a query workload: every op once, its output
    * checked against the stored fingerprint.
    */
  private def checkPass(): Unit = {
    outputRows = ops.flatMap(op => runQuery(op, None, observe = true).flatMap(_._2).map { fp =>
      expect(op, fp); fp.rows.toDouble
    }).sum
  }

  private def prepareInput(): Unit = {
    Gen.write(spark, baseDir, scale)
    Gen.layout(spark, baseDir, dataDir, a.seed)
    // drop the per-seed inputs of earlier runs; the base stays
    Option(new File(a.work, "data").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(s"$scale-s") && f.getAbsolutePath != dataDir)
      .foreach(Main.deleteTree)
  }

  def run(): Int = {
    val (_, genS) = seconds(prepareInput())
    GraftSession.open(spark, dataDir)
    val calib = new File(a.work, "calib").getAbsolutePath
    val ((spin, scan), calS) = seconds((Kernels.spin(), Kernels.scan(spark, calib)))
    context("spin_ref_s") = Json.num(spin)
    context("scan_ref_s") = Json.num(scan)
    context("gen_s") = Json.num(genS)
    if (servedIngest) ingest.setup() else checkPass()
    val setupS = (System.nanoTime() - t0) / 1e9 - genS - calS
    Main.settle()
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var i = 0
    var last = 0.0
    // A pass starts only while it is expected to end inside the window, so
    // every run measures whole passes. In a traced run untraced and traced
    // passes alternate, starting untraced, so the tracing overhead is
    // measured inside the run.
    def enough = untracedPasses.nonEmpty && (!a.trace || tracedPasses.nonEmpty)
    while (!enough || elapsed + last <= a.seconds) {
      val p0 = System.nanoTime()
      pass(traced = a.trace && i % 2 == 1)
      last = (System.nanoTime() - p0) / 1e9
      i += 1
    }
    if (servedIngest) ingest.finish()
    report(setupS)
  }

  /** Untimed: writes the fingerprints of every op's output. */
  def record(): Int = {
    prepareInput()
    GraftSession.open(spark, dataDir)
    if (servedIngest) {
      GraftSession.openStores(spark, dataDir)
      val op = "llm_ann_ivfpq_indexed"
      runQuery(op, None, observe = true).flatMap(_._2).foreach(expect(op, _))
    } else checkPass()
    val merged = expected ++ recorded
    val text = merged.toSeq.sortBy(_._1).map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(expectedFile.toPath, text.getBytes("UTF-8"))
    println(s"recorded ${recorded.size} fingerprints into $expectedFile; failures: ${failures.size}")
    if (failed == 0) 0 else 1
  }

  private def report(setupS: Double): Int = {
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val passes = untracedPasses.toSeq
    if (!a.trace) {
      metrics += (("setup_s", setupS, "s"))
      metrics += (("pass_s", median(passes), "s"))
      metrics += (("read_p50_s", median(readLat.toSeq), "s"))
      metrics += (("read_p90_s", quantile(readLat.toSeq, 0.9), "s"))
      metrics += (("ok_frac", (attempted - failed).toDouble / math.max(1L, attempted), "ratio"))
      metrics += (("peak_rss_mb", Main.vmHwmMb(), "MB"))
      // where the peak RSS comes from: peak use of each heap pool
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach { pool =>
        context(s"peak_mb.${pool.getName.replace(' ', '_')}") = Json.num(pool.getPeakUsage.getUsed / 1048576.0)
      }
    } else {
      val t = tracer.get
      Main.drainListenerBus(spark)
      tracedPasses.foreach { case (wall, p) => summarize(t, p, wall) }
      def med(k: String): Double = median(tracedPasses.toSeq.map(_._2.layers.getOrElse(k, 0.0)))
      val probes = Seq("cosine" -> Kernels.cosine(a.seed), "levenshtein" -> Kernels.levenshtein(a.seed),
        "minhash" -> Kernels.minhash(a.seed))
      val counts = Set("engine.build_jobs", "tables.input_rows", "exec.output_rows", "exec.jobs",
        "exec.stages", "exec.tasks")
      Seq("engine.build_s", "engine.build_jobs", "tables.input_bytes", "tables.input_rows",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "exec.materialize_s", "exec.executor_run_s", "exec.executor_cpu_s", "exec.cpu_util",
        "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
        "exec.task_skew", "exec.output_rows", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.count_s", "jvm.gc_s").foreach { k =>
        val unit = if (k.endsWith("_bytes")) "bytes" else if (counts(k)) "count"
          else if (k.endsWith("_s")) "s" else "ratio"
        metrics += ((k, med(k), unit))
      }
      probes.foreach { case (n, p) =>
        metrics += ((s"functions.${n}_ns", p.nsPerCall, "ns"))
        context(s"functions.${n}_ops_per_call") = Json.num(p.opsPerCall)
        context(s"functions.${n}_bytes_per_call") = Json.num(p.bytesPerCall)
      }
      metrics += (("stores.build_s", ingest.buildS, "s"))
      metrics += (("stores.resolve_s", medCall("stores.resolve_s"), "s"))
      metrics += (("stores.read_cached_s", medCall("stores.read_cached_s"), "s"))
      metrics += (("stores.memo_hit_frac", ingest.memoHitFrac, "ratio"))
      metrics += (("stores.bytes_ratio", ingest.bytesRatio, "ratio"))
      Seq("refresh_postings", "refresh_termdict", "refresh_rollup", "refresh_sketch", "compact", "probe")
        .foreach(n => metrics += ((s"sinks.${n}_s", medCall(s"sinks.${n}_s"), "s")))
      metrics += (("sinks.ingest_p50_s", medCall("sinks.ingest_s"), "s"))
      metrics += (("sinks.visible_segments", ingest.maxSegments.toDouble, "count"))
      metrics += (("sinks.bytes_written", ingest.bytesWritten.toDouble, "bytes"))
      metrics += (("session.open_stores_s", medCall("session.open_stores_s"), "s"))
      val traced = median(tracedPasses.toSeq.map(_._1))
      metrics += (("trace.overhead_s", traced - median(passes), "s"))
      t.selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (k, v) => context(s"self_s.$k") = Json.num(v) }
      val out = new File(a.work, s"trace/${a.workload}-s${a.seed}.jsonl").toPath
      t.writeJsonl(out)
      context("trace_file") = Json.str(out.toString)
      context("trace_spans") = Json.num(t.allSpans.size.toDouble)
      context("traced_pass_s") = Json.num(traced)
      context("untraced_pass_s") = Json.num(median(passes))
    }
    val n = readLat.size
    context("passes") = Json.num(passes.size.toDouble)
    context("read_samples") = Json.num(n.toDouble)
    // the highest percentile with at least ten samples beyond it
    context("read_top_percentile") = if (n >= 20) Json.num(math.floor(100.0 * (n - 10) / n)) else "null"
    context("ingest_samples") = Json.num(calls.get("sinks.ingest_s").fold(0)(_.size).toDouble)
    context("failures") = failures.map(Json.str).mkString("[", ",", "]")
    context("cores") = Json.num(cores.toDouble)
    System.err.println(s"perfbench: ${a.workload} seed=${a.seed} passes=${passes.map(p => f"$p%.3f").mkString(",")}")
    calls.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"perfbench: $k%-28s median ${median(v.toSeq)}%.3f s over ${v.size}%d calls")
    }
    println(Json.obj(Seq("context" -> Json.obj(context.toSeq))))
    val metricsJson = Json.obj(metrics.toSeq.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsJson)))
    0
  }

  // ------------------------------------------------------- served_ingest

  private object ingest {
    import graft.sources.{Sinks, Stores}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    var buildS = 0.0
    var maxSegments = 0L
    var bytesWritten = 0L
    var bytesRatio = 0.0
    private var memoCalls = 0L
    private var memoHits = 0L
    def memoHitFrac: Double = if (memoCalls == 0) 0.0 else memoHits.toDouble / memoCalls
    private val storeRoot = new File(runDir, "stores")
    private val mirror = new File(runDir, "mirror")
    private val batchRoot = new File(runDir, "batches")
    private var cycleNo = 0
    private var storeBytesAfterSetup = 0L
    /** The traffic of one cycle. The repository records no serving trace,
      * so these are assumptions:
      *  - a batch is one new day of traffic at the corpus's own mean daily
      *    rate (its documents and events spread over [[Gen.EventDays]]
      *    days), so the daily rollup and the latency sketches gain one
      *    whole day per cycle;
      *  - every served read runs once per batch, the read-after-write of a
      *    dashboard that refreshes after each load;
      *  - the probes are Soak's streaming-ingest probe: one conjunctive and
      *    one BM25 probe (top [[ProbeK]]) of three terms, here drawn from
      *    the term dict in proportion to document frequency;
      *  - the postings are compacted at the end of every cycle, so the
      *    reads see the compacted generation plus the new batch's segment.
      *    A pass is one cycle and one compaction period, so every pass
      *    holds the same mix of work whatever number of passes fits in a
      *    run. The streaming sink's own policy (compact at eight visible
      *    segments) would make one pass eight cycles, several minutes on a
      *    4-core machine.
      */
    private val ProbeK = 20
    private val batchDocs = math.max(1L, Gen.Sizes(scale).documents / Gen.EventDays).toInt
    private val batchEvents = math.max(1L, Gen.Sizes(scale).events / Gen.EventDays).toInt
    /** doc id -> tokens, for the probe checks */
    private val docToks = mutable.LinkedHashMap.empty[Long, Array[String]]
    private val lastFrame = mutable.Map.empty[String, AnyRef]

    def setup(): Unit = {
      // copy of the tables the raw-scan twins read; batches are appended
      Seq("documents", "events").foreach { t =>
        val dst = new File(mirror, s"$t.parquet")
        dst.mkdirs()
        new File(dataDir, s"$t.parquet").listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new File(dst, f.getName).toPath)
        }
      }
      spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text").collect()
        .foreach(r => docToks(r.getLong(0)) = tokens(r.getString(1)))
      val (_, b) = seconds(GraftSession.openStores(spark, dataDir))
      buildS = b
      System.err.println(f"perfbench: store build $b%.3f s")
      cycle(None, warm = true)
      storeBytesAfterSetup = Main.dirBytes(storeRoot)
    }

    private def tokens(text: String): Array[String] = text.toLowerCase.split(" ").filter(_.nonEmpty)

    /** Batch `c`: fresh doc and event ids, events on a day after every
      * earlier one, text partly from fresh tokens.
      */
    private def writeBatch(c: Int): (String, String) = {
      val rnd = new java.util.Random(a.seed * 1000003L + c)
      val dir = new File(batchRoot, s"c$c")
      val docRows = (0 until batchDocs).map { i =>
        val n = 10 + rnd.nextInt(91)
        val text = Seq.fill(n)(if (rnd.nextInt(10) < 8) Gen.vocab(rnd.nextInt(Gen.vocab.size))
          else s"c${c}t${rnd.nextInt(20)}").mkString(" ")
        Row(1000000000L + c * 10000L + i, text, Seq("de", "en", "es", "fr", "zh")(rnd.nextInt(5)),
          s"src${rnd.nextInt(20)}", (10 + rnd.nextInt(491)).toLong)
      }
      docRows.foreach(r => docToks(r.getLong(0)) = tokens(r.getString(1)))
      val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
      val dayMicros = 1704067200000000L + (Gen.EventDays + c) * 86400000000L
      val evRows = (0 until batchEvents).map { i =>
        Row(2000000000L + c * 100000L + i,
          new java.sql.Timestamp((dayMicros + (rnd.nextDouble() * 86399e6).toLong) / 1000),
          rnd.nextInt(1500).toLong, Seq("click", "error", "purchase", "signup", "view")(rnd.nextInt(5)),
          math.round(rnd.nextDouble() * rnd.nextDouble() * 56000) / 100.0, s"""{"k": ${rnd.nextInt(101)}}""")
      }
      val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val d = new File(dir, "documents.parquet").getAbsolutePath
      val e = new File(dir, "events.parquet").getAbsolutePath
      spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema).write.parquet(d)
      spark.createDataFrame(spark.sparkContext.parallelize(evRows, 1), evSchema).write.parquet(e)
      (d, e)
    }

    /** One cycle: ingest a batch, reopen the stores, serve every read and
      * the seeded probes, and compact the postings. Returns the summed time
      * of these timed items; checks run after, untimed.
      */
    def cycle(p: Option[PassTrace], warm: Boolean): Double = {
      val c = cycleNo
      cycleNo += 1
      val (dPath, ePath) = writeBatch(c)
      val docs = spark.read.parquet(dPath)
      val evs = spark.read.parquet(ePath)
      val rnd = new java.util.Random(a.seed * 7919L + c)
      var total = 0.0
      def item[T](key: String, layer: String)(f: Option[Int] => T): Option[T] = {
        attempted += 1
        try {
          val (r, dt) = (p, tracer) match {
            case (Some(pt), Some(t)) => seconds(t.spanId(pt.id, layer, key)(id => f(Some(id)))._1)
            case _ => seconds(f(None))
          }
          call(key, dt)
          total += dt
          Some(r)
        } catch { case e: Throwable => fail(s"$key c$c: ${errText(e)}"); None }
      }
      // 1. ingest, each refresh call timed on its own as well
      item("sinks.ingest_s", "op") { parent =>
        def sub(key: String)(f: => Unit): Unit = {
          val (_, dt) = (parent, tracer) match {
            case (Some(id), Some(t)) => seconds(t.span(id, "sinks", key)(f))
            case _ => seconds(f)
          }
          call(key, dt)
        }
        sub("sinks.refresh_postings_s")(Sinks.refreshPostings(spark, Stores.postingStore(spark, dataDir), docs))
        sub("sinks.refresh_termdict_s")(Sinks.refreshTermDict(spark, Stores.termDict(spark, dataDir), docs))
        sub("sinks.refresh_rollup_s")(Sinks.refreshDailyRollup(spark, Stores.dailyRollup(spark, dataDir), evs))
        sub("sinks.refresh_sketch_s")(Sinks.refreshLatencySketches(spark, Stores.latencySketch(spark, dataDir), evs))
      }
      // 2. reopen the store views against the refreshed state
      item("session.open_stores_s", "session")(_ => GraftSession.openStores(spark, dataDir, refresh = true))
      // the segments the reads of this cycle see, outside the timed items
      val segs = spark.table("graft_store_health").select("visible_segments").head().get(0)
      maxSegments = math.max(maxSegments, segs.toString.toLong)
      // 3. served reads, each fingerprinted by the execution that serves it
      val served = ops.map { op =>
        val r = runQuery(op, p, observe = true)
        r.foreach { case (dt, _) => total += dt; if (!warm) readLat += dt }
        op -> r.flatMap(_._2)
      }
      outputRows = served.flatMap(_._2).map(_.rows.toDouble).sum
      val dict = spark.table("graft_term_dict").select("tok", "df").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val post = Stores.postingStore(spark, dataDir)
      val probes = Seq(true, false).map(conj => (conj, drawTerms(rnd, dict, 3)))
      probes.foreach { case (conj, terms) =>
        item("sinks.probe_s", "sinks")(_ => materialize(probe(post, conj, terms)))
          .foreach(_ => if (!warm) readLat += calls("sinks.probe_s").last)
      }
      // 4. compaction
      item("sinks.compact_s", "sinks")(_ => Sinks.compactPostings(spark, post))
      storeProbes()
      appendToMirror(c, dPath, ePath)
      if (!warm) {
        val (_, chk) = seconds(check(c, served, post, probes))
        System.err.println(f"perfbench: cycle $c%d $total%.3f s, check $chk%.3f s")
      }
      Main.settle()
      total
    }

    private def probe(post: String, conj: Boolean, terms: Seq[String]): DataFrame =
      if (conj) Sinks.probePostings(spark, post, terms) else Sinks.probePostingsBm25(spark, post, terms, ProbeK)

    /** Terms drawn with probability proportional to document frequency. */
    private def drawTerms(rnd: java.util.Random, dict: Array[(String, Long)], n: Int): Seq[String] = {
      val total = dict.map(_._2).sum.toDouble
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < n) {
        var x = rnd.nextDouble() * total
        out += dict.find { case (_, df) => x -= df; x < 0 }.getOrElse(dict.last)._1
      }
      out.toSeq
    }

    /** Metadata-layer probes after each cycle, outside its timed items. */
    private def storeProbes(): Unit = {
      val (_, r) = seconds {
        Stores.postingStore(spark, dataDir); Stores.dailyRollup(spark, dataDir)
        Stores.latencySketch(spark, dataDir); Stores.termDict(spark, dataDir); Stores.pqIndex(spark, dataDir)
      }
      call("stores.resolve_s", r)
      val pq = Stores.pqIndex(spark, dataDir)
      val paths = Seq(Stores.dailyRollup(spark, dataDir), Stores.latencySketch(spark, dataDir),
        s"$pq/centroids", s"$pq/codebook", s"$pq/codes")
      val (_, rc) = seconds(paths.foreach { path =>
        val f = Stores.readCached(spark, path)
        memoCalls += 1
        if (lastFrame.get(path).exists(_ eq f)) memoHits += 1
        lastFrame(path) = f
      })
      call("stores.read_cached_s", rc)
    }

    private def appendToMirror(c: Int, dPath: String, ePath: String): Unit =
      Seq("documents" -> dPath, "events" -> ePath).foreach { case (tname, path) =>
        new File(path).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new File(mirror, s"$tname.parquet/c$c-${f.getName}").toPath)
        }
      }

    /** Every read of timed cycle `c` against an answer computed another way: the
      * served reads against their raw-scan twins over the corpus plus every
      * batch so far, the ANN read against its stored fingerprint (the
      * embeddings never change), the probes against the generated texts.
      */
    private def check(c: Int, served: Seq[(String, Option[Check.Fp])],
                      post: String, probes: Seq[(Boolean, Seq[String])]): Unit = {
      val twinSession = spark.newSession()
      val twinFps = mutable.Map.empty[String, Check.Fp]
      served.foreach {
        case (op, Some(got)) if Workloads.twin.contains(op) =>
          val tw = Workloads.twin(op)
          try {
            val want = twinFps.getOrElseUpdate(tw,
              Check.fingerprint(SparkEntry.queries(tw)(twinSession, mirror.getAbsolutePath)))
            if (want != got) fail(s"$op c$c: served $got, rescan $tw $want")
          } catch { case e: Throwable => fail(s"$op c$c check: ${errText(e)}") }
        case ("llm_ann_ivfpq_indexed", Some(got)) => expect("llm_ann_ivfpq_indexed", got)
        case _ => () // a failed read is counted already; the rollup is checked in finish()
      }
      probes.foreach { case (conj, terms) =>
        try checkProbe(conj, terms, probe(post, conj, terms).collect())
        catch { case e: Throwable => fail(s"probe ${terms.mkString("+")} c$c check: ${errText(e)}") }
      }
    }

    /** Conjunctive probes must return exactly the docs holding every term;
      * BM25 probes the top [[ProbeK]] docs by BM25 over the store's statistics,
      * recomputed here from the generated texts.
      */
    private def checkProbe(conj: Boolean, terms: Seq[String], rows: Array[Row]): Unit = {
      val what = s"probe ${terms.mkString("+")}"
      if (conj) {
        val want = docToks.collect { case (id, ts) if terms.forall(ts.contains) => id }.toSet
        val got = rows.map(_.getLong(0)).toSet
        if (got != want) fail(s"$what: ${got.size} docs, expected ${want.size}")
      } else {
        val n = docToks.size.toDouble
        val avgdl = docToks.valuesIterator.map(_.length.toDouble).sum / n
        val df = terms.map(tk => tk -> docToks.valuesIterator.count(_.contains(tk)).toDouble).toMap
        val score = docToks.flatMap { case (id, ts) =>
          val tfs = terms.map(tk => tk -> ts.count(_ == tk)).filter(_._2 > 0)
          if (tfs.isEmpty) None
          else Some(id -> tfs.map { case (tk, tf) =>
            val idf = math.log(1 + (n - df(tk) + 0.5) / (df(tk) + 0.5))
            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ts.length / avgdl))
          }.sum)
        }
        val got = rows.map(r => r.getLong(0) -> r.getDouble(1))
        val cut = if (got.isEmpty) Double.PositiveInfinity else got.map(_._2).min
        val ok = got.length == math.min(ProbeK, score.size) &&
          got.forall { case (id, s) => score.get(id).exists(w => math.abs(w - s) <= 1e-3) } &&
          score.forall { case (id, s) => s <= cut + 1e-3 || got.exists(_._1 == id) }
        if (!ok) fail(s"bm25 $what: ranking differs from the recomputed scores")
      }
    }

    /** Refresh ≡ rebuild: the served weekly rollup equals the one computed
      * from a daily rollup rebuilt over the corpus plus every batch. Then
      * the store sizes.
      */
    def finish(): Unit = {
      try {
        import org.apache.spark.sql.functions._
        val rebuilt = new File(runDir, "rollup_rebuilt").getAbsolutePath
        Sinks.writeDailyRollup(graft.engine.Tables.events(spark.newSession(), mirror.getAbsolutePath), rebuilt)
        def weekly(df: DataFrame) = df.collect()
          .map(r => (r.get(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
        val want = weekly(spark.read.parquet(rebuilt)
          .groupBy(date_trunc("week", col("day")).as("week"), col("event_type"))
          .agg(sum("n").as("n_events"), round(sum("sum_value"), 2).as("total_value")))
        val got = weekly(SparkEntry.queries("log_rollup_served")(spark, dataDir))
        val same = want.keySet == got.keySet && want.forall { case (k, (n, v)) =>
          got(k)._1 == n && math.abs(got(k)._2 - v) < 0.011
        }
        if (!same) fail(s"log_rollup_served: refreshed rollup differs from the rebuild (${got.size} vs ${want.size} rows)")
      } catch { case e: Throwable => fail(s"rollup rebuild check: ${errText(e)}") }
      val storeBytes = Main.dirBytes(storeRoot)
      bytesWritten = storeBytes - storeBytesAfterSetup
      val inputBytes = Seq("documents", "events", "embeddings")
        .map(t => Main.dirBytes(new File(dataDir, s"$t.parquet"))).sum + Main.dirBytes(batchRoot)
      bytesRatio = storeBytes.toDouble / inputBytes
    }
  }
}
