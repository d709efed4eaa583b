package graft
import org.apache.spark.sql.SparkSession

/** Perf harness: times the headline query suite — the ten operators
  * BASELINE.md measured (scan, TPC-H-Q1-style agg, 3-way join, window
  * top-k, time buckets, sessionize, regex grep, JSON extract, exact dedup,
  * knn cosine) — so the emitted total is directly comparable to the
  * baseline's ≈12.7 s / 25 s budget at sf0.1.
  *
  * Matching the baseline's measurement protocol ("warm JVM, single run
  * after warmup"), one untimed warmup action runs first; it pays the JVM /
  * codegen / parquet-footer costs that would otherwise land on whichever
  * query happens to run first. Set SPARK_GRAFT_BENCH=all to time the whole
  * registry instead.
  */
object Bench {
  /** name → BASELINE.md row it mirrors (shared with Soak's §6l
    * headline-scale sweep so the two suites can never drift apart). */
  private[graft] val headline = Seq(
    "sel_project"         -> "scan_count",
    "agg_pricing_summary" -> "q1_pricing_summary",
    "join_broadcast_dim"  -> "join3_agg",
    "win_topk"            -> "window_topk_events",
    "log_time_buckets"    -> "time_bucket_agg",
    "win_sessionize"      -> "sessionize_gap30m",
    "log_grep_regex"      -> "regex_grep_docs",
    "log_json_extract"    -> "json_extract_events",
    "llm_dedup_exact"     -> "dedup_exact_docs",
    "llm_knn_cosine"      -> "knn_cosine")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // A full-registry run leaves thousands of dead localCheckpoint /
      // broadcast blocks (iterative queries checkpoint per round, 6 runs
      // each); Spark's ContextCleaner reclaims them only when the driver
      // GCs, and the default periodicGC interval (30 min) is longer than
      // the whole suite — so block-manager pressure built up across ~160
      // queries was inflating the checkpoint-heavy late-alphabet ones
      // (llm_neardup_clusters measured 3× its small-context time). One
      // minute is the knob's documented use, not a bench trick.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_BENCH: unset = the 10 baseline-mirroring headliners;
    // "all" = the whole registry; "a,b,c" = just those queries (dev loop
    // for timing one operator without paying for the other 146).
    val names: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH") match {
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list) if list.nonEmpty =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(",")}")
        want.toSeq
      case _ => headline.map(_._1)
    }
    // Artifact-honesty guard: this machine's history shows a 1-min loadavg
    // above ~1.5 at record time inflates readings 2-5× with uniform
    // scatter across untouched queries (r9 headline, r10 local[4]), which
    // costs every later reviewer an adjudication pass. If the box is busy
    // at start, WAIT for it to quiet (bounded — a stuck neighbor must not
    // deadlock the round), and flag the artifact if it records busy anyway.
    def loadAvg1: Option[Double] = try {
      Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble)
    } catch { case _: Throwable => None }
    val loadMax = sys.env.get("SPARK_GRAFT_BENCH_LOAD_MAX")
      .flatMap(_.toDoubleOption).getOrElse(1.5)
    val loadWaitSec = sys.env.get("SPARK_GRAFT_BENCH_LOAD_WAIT")
      .flatMap(_.toIntOption).getOrElse(600)
    val waitStart = System.nanoTime()
    var loadNow = loadAvg1 // one read per iteration: log what actually gated
    while (loadNow.exists(_ > loadMax) &&
        (System.nanoTime() - waitStart) / 1e9 < loadWaitSec) {
      System.err.println(
        s"bench: 1-min loadavg ${loadNow.get} > $loadMax — waiting up to " +
          s"${loadWaitSec}s for the box to quiet")
      Thread.sleep(15000)
      loadNow = loadAvg1
    }
    // The warn flag keys on the PRE-RUN reading: by record time the
    // suite's own 32 threads have inflated the 1-min average, which says
    // nothing about external contention — the thing the flag exists to
    // disclose.
    val loadAtStart = loadNow
    // Calibration probes: three FIXED-work measurements recorded with
    // every artifact — a single-threaded integer spin (pure CPU epoch:
    // hypervisor co-tenancy and frequency state, invisible to loadavg), a
    // fixed synthetic parquet scan-aggregate (the Spark engine + IO epoch), and a
    // fixed-TOTAL-work PARALLEL spin (64 tasks × 1e8 iterations submitted
    // as one Spark job — its wall time is inversely proportional to the
    // cores the session actually schedules on, so an 8-vs-32-core artifact
    // pair witnesses core scaling in the calibration block itself even
    // when every sf0.1 query sits on the per-query fixed floor). The
    // r10→r11 full-registry comparison looked like a 24% regression until
    // a same-hour scratch-clone A/B proved the BOX had changed speed, not
    // the code (SCALE.md §6k(3)); with these constants in each artifact,
    // any cross-round total can be epoch-normalized by the calibration
    // ratio instead of a rebuild-and-rerun adjudication.
    // Runs AFTER the load gate (measures the quiesced box the suite sees)
    // and BEFORE warmup (the synthetic scan also pre-touches the reader
    // path). Medians of 3.
    def med3(f: () => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    // Short fixed-work probes shared by the calibration block and the
    // stabilization pass's validity gates below (cheap — ~0.5 s each at
    // the reference epoch): the rebench-adoption gate needs a start-of-run
    // reference.
    var acc = 0L // escapes the loops so the JIT cannot elide them
    def shortSpin(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 300000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      acc ^= x
      (System.nanoTime() - t0) / 1e9
    }
    // fixed synthetic table: 20M deterministic rows, written once per
    // machine (untimed) — spark.range is bit-deterministic, so every
    // round scans identical work regardless of the corpus under test
    val calibDir = s"${sys.props("java.io.tmpdir")}/graft_calib_v1"
    if (!new java.io.File(s"$calibDir/_SUCCESS").exists())
      spark.range(0L, 20000000L, 1L, 8)
        .selectExpr("id", "(id * 2654435761) % 997 AS k")
        .write.mode("overwrite").parquet(calibDir)
    def scanProbe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(calibDir).selectExpr("sum(k)", "count(*)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    spark.read.parquet(calibDir).selectExpr("sum(k)").collect() // warm, untimed
    shortSpin() // warm, untimed (C2 compile)
    val spinRef = { val a = shortSpin(); val b = shortSpin(); math.min(a, b) }
    val scanRef = { val a = scanProbe(); val b = scanProbe(); math.min(a, b) }
    val (calSpinS, calScanS, calParSpinS) = {
      def spin(): Unit = {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 1500000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        acc ^= x
      }
      def parSpin(): Unit =
        // 64 tasks regardless of core count = the same total work per run;
        // each task is the same xorshift kernel as the serial spin
        spark.sparkContext.parallelize(1 to 64, 64).foreach { _ =>
          var x = 0x9E3779B97F4A7C15L
          var i = 0
          while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          if (x == 42) throw new IllegalStateException("unreachable")
        }
      val scanS = med3(() => { scanProbe(): Unit })
      val spinS = med3(() => spin())
      parSpin() // warm, untimed
      val parSpinS = med3(() => parSpin())
      if (acc == Long.MinValue) System.err.println("calibration sentinel")
      (spinS, scanS, parSpinS)
    }
    // Warmup (untimed): one pass over the suite, so the timed pass measures
    // steady-state execution, not one-time JVM costs — classloading alone
    // is multi-second noise (first get_json_object call in a fresh JVM
    // pays ~6 s of Jackson/codegen init, then runs in 0.6 s).
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // Median of five timed runs per query: single-run timings at sf0.1 are
    // dominated by GC / scheduler noise (observed 5× swings on an otherwise
    // identical plan); the median is the honest steady-state number and
    // matches the baseline's "warm JVM" protocol.
    //
    // A query where ALL runs throw is reported as time=null plus an
    // `errors` entry — never as its exception-path elapsed time, which
    // would fabricate a sub-0.1 s "result" for a query that did no work.
    // A query where only SOME runs throw (e.g. one GC-induced OOM) still
    // gets the median of its successful runs, but is named in `flaky` and
    // keeps its `errors` entry, so a transient wobble is distinguishable
    // from a fully broken query in the artifact.
    def timedRuns(name: String): (Seq[Double], Option[String]) = {
      val fn = SparkEntry.queries(name)
      var err: Option[String] = None
      val times = (1 to 5).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          err = err.orElse(Some(
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)))
          None
        }
      }.sorted
      (times, err)
    }
    // Mid-suite probe epochs: every EPOCH_EVERY queries, re-run the fixed
    // scan probe and record (position, seconds). r12's full-registry
    // artifact shipped a uniformly elevated late-alphabet tail
    // (text_bpe_merges 2.35 s in-suite vs 1.26 s isolated) that BOTH
    // stabilization triggers missed — uniform elevation has clean
    // within-query dispersion, and only the top-3 get the unconditional
    // rebench. A probe series makes the elevation itself visible: any
    // query timed inside an epoch whose probe exceeds 1.3× the start-of-
    // run reference becomes rebench-eligible. Overhead is bounded (the
    // probe is ~0.1 s and runs once per 20 queries).
    val epochEvery = 20
    val epochProbes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val firstPass: Seq[(String, Seq[Double], Option[String])] =
      names.zipWithIndex.map { case (name, i) =>
        if (i % epochEvery == 0 && names.size > epochEvery)
          epochProbes += ((i, scanProbe()))
        val (t, e) = timedRuns(name); (name, t, e)
      }
    // Stabilization pass (SPARK_GRAFT_BENCH_STABILIZE=0 disables): a
    // full-registry run accumulates block-manager / GC pressure, so a
    // query's five in-suite runs can ALL land high — r8's artifact showed
    // llm_ann_ivf at 2.40 s in-suite vs 0.55 s isolated, a position-in-
    // suite transient the per-query median cannot wash out. The tell is
    // WITHIN-query dispersion: a clean steady-state query has median ≈
    // min, a contaminated one doesn't. Queries whose median exceeds
    // 1.5× their own fastest run (and whose cost is above timer noise)
    // are re-benched at the END in a quiesced JVM (forced GC drains the
    // dead-block backlog the ContextCleaner would reclaim on its own
    // schedule) and report the ISOLATED median — the steady-state number
    // a user would measure — with both values disclosed under
    // "rebenched" so the artifact shows its work instead of silently
    // replacing a reading.
    val stabilize = sys.env.get("SPARK_GRAFT_BENCH_STABILIZE").forall(_ != "0")
    // Second, dispersion-INDEPENDENT trigger: when all five in-suite runs
    // land uniformly high (median ≈ min), the ratio test sees clean
    // dispersion and a fully contaminated reading would ship unflagged —
    // so the top-3 slowest queries are re-benched unconditionally. An
    // honest reading costs one confirming re-run; a contaminated one is
    // corrected, and either way both values are disclosed.
    val meds = firstPass.collect {
      case (n, t, _) if t.nonEmpty => n -> t(t.size / 2)
    }.toMap
    val topSlow: Set[String] =
      if (!stabilize) Set.empty
      else meds.toSeq.filter(_._2 > 0.15).sortBy(-_._2).take(3).map(_._1).toSet
    // Third trigger (dispersion-independent AND rank-independent): queries
    // timed inside an elevated probe epoch. The probe carries fixed work,
    // so probe > 1.3× its start-of-run reference means the BOX (or the
    // JVM's accumulated block/GC pressure) was slower while those queries
    // ran — exactly the uniform-tail contamination the other two triggers
    // can't see. Capped to the 10 slowest eligible so a long elevated tail
    // can't double the suite; the full probe series ships in the artifact
    // either way, so an uncorrected residue is visible, not hidden.
    val elevatedRanges: Seq[(Int, Int)] = {
      val ps = epochProbes.toSeq.sortBy(_._1)
      ps.zipWithIndex.collect {
        case ((start, t), idx) if t > scanRef * 1.3 =>
          val end = ps.lift(idx + 1).map(_._1).getOrElse(names.size)
          (start, end)
      }
    }
    val nameIdx = names.zipWithIndex.toMap
    val epochSuspects: Set[String] =
      if (!stabilize) Set.empty
      else meds.toSeq
        .filter { case (n, m) =>
          m > 0.15 && elevatedRanges.exists { case (s, e) =>
            val i = nameIdx(n); i >= s && i < e
          }
        }
        .sortBy(-_._2).take(10).map(_._1).toSet
    // Rebench VALIDITY gate (replaces r12's min(suite, isolated), whose
    // one-sided bias the round-12 review quantified at ~59 ms): the
    // isolated median is adopted only when the fixed-work probes at
    // rebench time match the start-of-run reference — i.e. when the
    // rebench actually measured the same box the suite started on.
    // Otherwise the suite median stands. A condition on measurement
    // validity, not on which number is smaller; both values plus the gate
    // decision are disclosed under "rebenched".
    def probeOk(): Boolean = {
      val sp = math.min(shortSpin(), shortSpin())
      val sc = math.min(scanProbe(), scanProbe())
      sp <= spinRef * 1.25 && sc <= scanRef * 1.5
    }
    val results: Seq[(String, Option[Double], Option[String], Option[(Double, Double, Boolean)])] =
      firstPass.map { case (name, times, err) =>
        if (times.isEmpty) (name, None, err.orElse(Some("no runs completed")), None)
        else {
          val med = times(times.size / 2)
          if (!stabilize || med <= 0.15 ||
              (med <= times.head * 1.5 && !topSlow(name) && !epochSuspects(name)))
            (name, Some(med), err, None)
          else {
            System.gc()
            Thread.sleep(2000)
            val (re, reErr) = timedRuns(name)
            if (re.isEmpty) (name, Some(med), err.orElse(reErr), None)
            else {
              val reMed = re(re.size / 2)
              // reErr folds in even on success: a partially failing
              // rebench must surface in errors/flaky, not vanish.
              // Adopt the isolated median only when the validity probes
              // say the rebench measured a box in the start-of-run
              // epoch (r13, replacing r12's biased min()): the rebench
              // exists to wash out in-suite contamination, but the
              // rebench pass itself can land on an external load spike —
              // observed isolated medians 2× the in-suite reading on a
              // box whose 1-min load rose mid-run. Either way both
              // values and the gate decision stay disclosed under
              // "rebenched".
              val ok = probeOk()
              (name, Some(if (ok) reMed else med), err.orElse(reErr),
                Some((med, reMed, ok)))
            }
          }
        }
      }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _, _) => q(k) + ":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => q(k) + ":" + q(e) }
      .mkString("{", ",", "}")
    val flaky = results.collect { case (k, Some(_), Some(_), _) => q(k) }
      .mkString("[", ",", "]")
    val rebenched = results.collect { case (k, _, _, Some((suite, iso, ok))) =>
      q(k) + s""":{"suite":$suite,"isolated":$iso,""" +
        s""""adopted":${q(if (ok) "isolated" else "suite")},"probe_ok":$ok}"""
    }.mkString("{", ",", "}")
    val valid = results.flatMap(_._2)
    val total = valid.sum
    // Machine-load context: two consecutive rounds burned a post-mortem on
    // load-noise-inflated timings (r5 neardup-cosine, r6 headline suite).
    // /proc/loadavg gives "1m 5m 15m running/total lastpid"; recording it
    // alongside the numbers lets a reviewer separate plan drift from a
    // busy box without re-running anything.
    val loadCtx = try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")
      val rt = parts(3).split("/")
      s""""loadavg":[${parts(0)},${parts(1)},${parts(2)}],""" +
        s""""loadavg_start":${loadAtStart.fold("null")(_.toString)},""" +
        s""""procs_running":${rt(0)},"procs_total":${rt(1)},""" +
        s""""load_warn":${loadAtStart.exists(_ > loadMax)}"""
    } catch { case _: Throwable => """"loadavg":null,"load_warn":false""" }
    val calibJson = s"""{"cpu_spin_s":$calSpinS,"scan_s":$calScanS,"par_spin_s":$calParSpinS}"""
    val probesJson =
      s"""{"spin_ref_s":$spinRef,"scan_ref_s":$scanRef,"epochs":[""" +
        epochProbes.map { case (i, t) => s"[$i,$t]" }.mkString(",") + "]}"
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":$errs,"flaky":$flaky,"rebenched":$rebenched,"valid":${valid.size},"invalid":${results.size - valid.size},"calibration":$calibJson,"probes":$probesJson,$loadCtx,"sf":"$sfDir"}"""
    println(line)
    // sbt prefixes stdout with [info], which breaks machine parsing of the
    // JSON line. Emit it through two prefix-free channels as well: a file
    // (for the driver) and raw stderr (for humans running via sbt).
    // default path is keyed on the fixture name so two Bench runs against
    // different sf dirs never clobber each other's result file; a same-sf
    // retry overwriting its predecessor is the desired latest-wins
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"/tmp/graft_bench_$sfBase.json")
    // delete any stale file first so a failed write surfaces as a MISSING
    // file, never as a silently re-consumed previous run
    try {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(out))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"bench: could not write $out: $e")
    }
    System.err.println(line)
    spark.stop()
  }
}
