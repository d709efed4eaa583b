package graft

import graft.sources.{Fs, StoreLog}

/** The invariants of [[graft.sources.StoreLog]], the commit protocol the
  * posting store, the pair-ingest sink's doc side and the upsert sinks
  * share — pinned once here, on the local scheme and on FsSpec's mock
  * non-local scheme (the `FileContext` branch a remote store takes). The
  * store-specific specs (StorageLayoutSpec, StreamingSpec) pin what each
  * store builds on top.
  */
class StoreLogSpec extends SparkSpecBase {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-storelog").toString

  private lazy val mockReady: Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockFs].getName)
    hc.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockAbstractFs].getName)
  }

  private class Boom extends RuntimeException("simulated crash")

  /** A log under a fresh directory of `scheme` ("" = local). */
  private def freshLog(scheme: String, name: String): (StoreLog, String) = {
    if (scheme.nonEmpty) mockReady
    val root = s"$scheme$tmp/${if (scheme.isEmpty) "local" else "mock"}/$name"
    (new StoreLog(root, Some(s"$root/seg")), root)
  }

  private def put(dir: String, text: String): Unit = Fs.writeTextAtomic(s"$dir/data", text)

  /** What a reader of the log sees: the data of every snapshot directory. */
  private def view(log: StoreLog): Seq[String] =
    log.snapshot.dirs.map(d => Fs.readText(s"$d/data"))

  for (scheme <- Seq("", "mockfs:")) {
    val on = if (scheme.isEmpty) "local scheme" else "mock non-local scheme"

    test(s"store log ($on): a crash before the data, before the marker, or " +
      "during a replay rewrite leaves the previous state visible") {
      val (log, _) = freshLog(scheme, "crash")
      log.commitVersion(spark, log.newVersionDir(), -1L)(put(_, "v0"))
      log.writeSegment(0L)(put(_, "s0"))
      val before = view(log)
      assert(before === Seq("v0", "s0"))
      // a new version: crash before any data, then after the data but
      // before the marker
      intercept[Boom](log.commitVersion(spark, log.newVersionDir(), 0L)(_ => throw new Boom))
      assert(view(log) === before)
      intercept[Boom](log.commitVersion(spark, log.newVersionDir(), 0L) { d =>
        put(d, "v1"); throw new Boom })
      assert(view(log) === before)
      // a new segment: same two crash points
      intercept[Boom](log.writeSegment(1L)(_ => throw new Boom))
      intercept[Boom](log.writeSegment(1L) { d => put(d, "s1"); throw new Boom })
      assert(view(log) === before)
      // a replay of segment 0 that dies mid-rewrite hides the segment: the
      // state without it, never a half-rewritten one
      intercept[Boom](log.writeSegment(0L) { d => put(d, "s0-torn"); throw new Boom })
      assert(view(log) === Seq("v0"))
      log.writeSegment(0L)(put(_, "s0"))
      assert(view(log) === before)
    }

    test(s"store log ($on): replaying a version id or a segment id gives " +
      "identical contents") {
      val (log, _) = freshLog(scheme, "replay")
      log.commitVersion(spark, log.versionDir(0L), -1L)(put(_, "v0"))
      log.writeSegment(0L)(put(_, "s0"))
      val once = view(log)
      log.commitVersion(spark, log.versionDir(0L), -1L)(put(_, "v0"))
      log.writeSegment(0L)(put(_, "s0"))
      assert(view(log) === once)
      assert(log.versions.map(_.id) === Seq(0L))
      assert(log.snapshot.segments.map(_._1) === Seq(0L))
    }

    test(s"store log ($on): the guard rejects an id strictly below the " +
      "watermark, and an id equal to it stays invisible") {
      val (log, _) = freshLog(scheme, "guard")
      (0L to 2L).foreach(id => log.writeSegment(id)(put(_, s"s$id")))
      // fold through 2; segments allocate above both watermarks
      log.commitVersion(spark, log.newVersionDir(), 2L)(put(_, "v"))
      assert(log.snapshot.nextSegment === 3L)
      log.writeSegment(3L)(put(_, "s3"))
      assert(log.snapshot.nextSegment === 4L)
      val err = intercept[IllegalArgumentException](log.guard(1L, log.snapshot, "spec ingest"))
      assert(err.getMessage.contains("folded_through") && err.getMessage.contains("watermark"))
      log.guard(2L, log.snapshot, "spec ingest")
      log.writeSegment(2L)(put(_, "s2-again"))
      assert(view(log) === Seq("v", "s3"))
    }

    test(s"store log ($on): retention 1 and 2 keep the newest 1 + retention " +
      "versions, the unfolded segments, and no stale uncommitted version") {
      for (keep <- Seq(1, 2)) {
        val (log, root) = freshLog(scheme, s"retention$keep")
        try {
          spark.conf.set("spark.graft.genRetention", keep.toString)
          val crashed = log.newVersionDir()
          intercept[Boom](log.commitVersion(spark, crashed, -1L) { d => put(d, "x"); throw new Boom })
          (0L to 4L).foreach { id =>
            log.writeSegment(id)(put(_, s"s$id"))
            log.commitVersion(spark, log.newVersionDir(), id)(put(_, s"v$id"))
            // the log's empty first state, which folded nothing, stays in
            // the window until 1 + retention versions exist
            if (id < keep) assert(Fs.exists(log.segmentDir(0L)), s"segment 0 left early at $id")
          }
          assert(log.versions.map(_.id) === ((5 - 1 - keep) to 4).map(_.toLong))
          assert(log.versionDirs.size === 1 + keep, "a crashed version dir survived GC")
          // a segment is deleted once every kept version has folded it
          val onDisk = Fs.listSubdirs(s"$root/seg").map(_._1).sorted
          assert(onDisk === ((5 - keep) to 4).map(id => s"b=$id"))
          assert(view(log) === Seq("v4"))
        } finally spark.conf.unset("spark.graft.genRetention")
      }
    }

    test(s"store log ($on): two writers of the same version id converge to " +
      "one complete store") {
      val (log, _) = freshLog(scheme, "race")
      log.commitVersion(spark, log.newVersionDir(), -1L)(put(_, "v0"))
      val a = log.newVersionDir()
      val b = log.newVersionDir()
      assert(a !== b)
      val threads = Seq(a -> "A", b -> "B").map { case (dir, text) =>
        new Thread(() => log.commitVersion(spark, dir, -1L)(put(_, text)): Unit)
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val cur = log.snapshot.current.get
      val names = Seq(a, b).map(_.split('/').last)
      assert(cur.id === 1L && cur.name === names.max)
      assert(view(log) === Seq(if (cur.name == names.head) "A" else "B"))
    }
  }

  // v6 layouts: what the upsert sinks, the pair sink's doc side and a
  // posting store at a caller-supplied path left on disk before the log.

  test("v6 upsert table: `v=<id>/_SUCCESS` versions are read, so the sink " +
    "resumes, and retention retires them like any version") {
    import spark.implicits._
    val ts = (s: Int) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    val evs = Seq(
      streaming.Streaming.Ev(1L, ts(0), 0L, "view", 1.0),
      streaming.Streaming.Ev(2L, ts(10), 0L, "error", 2.0),
      streaming.Streaming.Ev(3L, ts(20), 1L, "view", 3.0),
      streaming.Streaming.Ev(4L, ts(30), 0L, "view", 4.0),
      streaming.Streaming.Ev(5L, ts(40), 1L, "error", 5.0),
      streaming.Streaming.Ev(6L, ts(50), 1L, "view", 6.0))
    val batches = evs.grouped(2).map(_.toDF()).toSeq
    def table(path: String) = streaming.Streaming.readKeyedTable(spark, path)
      .collect().map(_.toString).sorted.toSeq
    val fresh = s"$tmp/upsert_fresh"
    batches.zipWithIndex.foreach { case (b, i) => streaming.Streaming.upsertBatch(b, fresh, i.toLong) }
    // the v6 table after batch 0: the merged rows in `v=0`, which Spark's
    // parquet writer marks with `_SUCCESS`
    val old = s"$tmp/upsert_v6"
    streaming.Streaming.upsertBatch(batches.head, s"$tmp/upsert_v6_src", 0L)
    streaming.Streaming.readKeyedTable(spark, s"$tmp/upsert_v6_src").write.parquet(s"$old/v=0")
    assert(streaming.Streaming.tableVersions(old) === Seq(0L))
    streaming.Streaming.upsertBatch(batches(1), old, 1L)
    // a replay of batch 1 reads `v=0` again: it must survive the commit
    streaming.Streaming.upsertBatch(batches(1), old, 1L)
    assert(Fs.exists(s"$old/v=0"), "GC deleted the pre-state of a replayable batch")
    streaming.Streaming.upsertBatch(batches(2), old, 2L)
    assert(table(old) === table(fresh), "the resumed table lost the v6 state")
    assert(streaming.Streaming.tableVersions(old) === Seq(1L, 2L))
    assert(!Fs.exists(s"$old/v=0"))
  }

  test("v6 pair-sink doc side: `base/v=<id>` versions are read as folded " +
    "through <id>, so a resumed sink misses no pair and hides folded segments") {
    import org.apache.spark.sql.functions.col
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val exist = docs.filter(col("doc_id") % 5 =!= 0)
    val b0 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 =!= 0)
    // batch 2 re-sends batch 0's texts under new ids: each pairs with a doc
    // that only the folded versions hold once segment 0 is collected
    val b2 = b0.withColumn("doc_id", col("doc_id") + 1000000L)
    /** Pairs and doc side after batches 0, 1 (each folded) and 2; `toV6`
      * renames the folded versions to the v6 layout before batch 2.
      */
    def run(base: String, toV6: Boolean): (Seq[String], String) = {
      val (pairs, docsPath) = (s"$base/pairs", s"$base/docs")
      graft.sources.Sinks.writeSized(graft.engine.LlmOps.shinglePairsOfDocs(exist), pairs, 2)
      // two ingest + fold rounds leave the v6 shape: versions folded
      // through 0 and 1, segment 0 collected, segment 1 kept
      for ((b, id) <- Seq(b0 -> 0L, b1 -> 1L)) {
        streaming.Streaming.shinglePairsIngestBatch(exist, b, pairs, docsPath, id)
        streaming.Streaming.foldDocSegments(spark, docsPath)
      }
      assert(!Fs.exists(s"$docsPath/b=0") && Fs.exists(s"$docsPath/b=1"))
      if (toV6) for ((name, dir) <- Fs.listSubdirs(s"$docsPath/base")) {
        val id = name.stripPrefix("gen-").takeWhile(_ != '-')
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
          new org.apache.hadoop.fs.Path(s"$docsPath/base/v=$id")))
        Fs.touch(s"$docsPath/base/v=$id/_COMMIT") // v6 markers are empty
      }
      streaming.Streaming.shinglePairsIngestBatch(exist, b2, pairs, docsPath, 2L)
      (spark.read.parquet(pairs).collect().map(_.toString).sorted.toSeq, docsPath)
    }
    val (want, _) = run(s"$tmp/pair_v7", toV6 = false)
    val (got, docsPath) = run(s"$tmp/pair_v6", toV6 = true)
    assert(got === want, "the resumed sink missed pairs")
    assert(streaming.Streaming.visibleDocSegmentCount(docsPath) === 1,
      "folded v6 segments came back into view")
    val dupPairs = spark.read.parquet(s"$tmp/pair_v7/pairs")
      .filter(col("id_b") === col("id_a") + 1000000L).count()
    assert(dupPairs > 0, "no pair reaches the folded docs — vacuous")
    // the next fold retires `v=0` and segment 1 and keeps `v=1` in the window
    streaming.Streaming.foldDocSegments(spark, docsPath)
    val left = Fs.listSubdirs(s"$docsPath/base").map(_._1).sorted
    assert(left.size === 2 && left.head.startsWith("gen-2-") && left(1) === "v=1", left)
    assert(!Fs.exists(s"$docsPath/b=1") && Fs.exists(s"$docsPath/b=2"))
  }

  test("v6 posting store at a caller path: refused before any read, write or GC") {
    val dir = s"$tmp/postings_v6"
    val gen = s"$dir/gen-0-0123abcd"
    Fs.writeTextAtomic(s"$gen/meta/part-0", "")
    Fs.writeTextAtomic(s"$dir/BASE", "gen-0-0123abcd")
    val docs = graft.engine.Tables.documents(spark, sfDir)
    def refused(op: => Any): Unit = {
      val err = intercept[IllegalStateException](op)
      assert(err.getMessage.contains("v6"), err.getMessage)
    }
    refused(graft.sources.Sinks.refreshPostings(spark, dir, docs))
    refused(graft.sources.Sinks.ingestPostingsSegment(spark, dir, docs, 0L))
    refused(graft.sources.Sinks.compactPostings(spark, dir))
    refused(graft.sources.Sinks.writePostings(docs, dir))
    assert(Fs.exists(s"$gen/meta/part-0") && Fs.listSubdirs(dir).map(_._1) === Seq("gen-0-0123abcd"))
    // a stream-only v6 store has no BASE; its segments' `segmeta` gives it away
    val only = s"$tmp/postings_v6_stream"
    Fs.writeTextAtomic(s"$only/seg/b=0/segmeta/part-0", "")
    Fs.touch(s"$only/seg/b=0/_COMMIT")
    refused(graft.sources.Sinks.refreshPostings(spark, only, docs))
    refused(graft.sources.Sinks.ingestPostingsSegment(spark, only, docs, 1L))
    refused(graft.sources.Sinks.compactPostings(spark, only))
    assert(Fs.listSubdirs(s"$only/seg").map(_._1) === Seq("b=0"))
  }

  test("pair sink: a replay that dies mid-rewrite leaves its doc segment " +
    "invisible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val (exist, batch) = (docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0))
    val base = s"$tmp/pair_replay"
    val pairs = s"$base/pairs"
    graft.sources.Sinks.writeSized(graft.engine.LlmOps.shinglePairsOfDocs(exist), pairs, 2)
    streaming.Streaming.shinglePairsIngestBatch(exist, batch, pairs, s"$base/docs", 0L)
    assert(streaming.Streaming.visibleDocSegmentCount(s"$base/docs") === 1)
    // the re-delivery's write dies while rewriting the segment's data
    val boom = udf((t: String) => if (t != null) throw new IllegalStateException("crash") else t)
    intercept[Exception](streaming.Streaming.shinglePairsIngestBatch(
      exist, batch.withColumn("text", boom($"text")), pairs, s"$base/docs", 0L))
    assert(streaming.Streaming.visibleDocSegmentCount(s"$base/docs") === 0,
      "a torn replay left its doc segment committed")
  }
}
