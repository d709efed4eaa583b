package graft

import graft.engine.Search
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** Test-only Hadoop FileSystem registered under a NON-LOCAL scheme but
  * backed by the raw local disk: `mockfs://` paths behave like a remote
  * filesystem to every scheme dispatch in the store plumbing (most
  * importantly [[graft.sources.Fs.writeTextAtomic]]'s
  * `FileContext.rename(OVERWRITE)` branch — the pointer-swap primitive a
  * real HDFS/S3A deployment uses) while the bytes land in the local temp
  * dir where the spec can inspect them.
  */
class MockFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mockfs:///")
  override def getScheme: String = "mockfs"
}

/** The `FileContext` half of the mock scheme (Hadoop resolves
  * `AbstractFileSystem` separately from `FileSystem`).
  */
class MockAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new MockFs, conf, "mockfs", false)

/** The filesystem seam ([[graft.sources.Fs]]) exercised on BOTH branches:
  * the local java.nio fast path every other spec covers implicitly, and —
  * via the mock scheme — the FileContext/remote path that a 100 TB
  * deployment on HDFS/S3A actually takes, including a full posting-store
  * lifecycle and the Stores registry pointed off the local FS through
  * `spark.graft.storeRoot`.
  */
class FsSpec extends SparkSpecBase {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-fs").toString

  /** Register the mock scheme on the shared session's Hadoop conf. */
  private lazy val mockReady: Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockFs].getName)
    hc.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockAbstractFs].getName)
  }

  test("writeTextAtomic on the local scheme: overwrite swap, no crc sidecar, " +
    "no orphaned temp files") {
    val dir = s"$tmp/local_ptr"
    graft.sources.Fs.writeTextAtomic(s"$dir/BASE", "gen-0")
    graft.sources.Fs.writeTextAtomic(s"$dir/BASE", "gen-1 gen-0")
    assert(graft.sources.Fs.readText(s"$dir/BASE") === "gen-1 gen-0")
    // the checksummed LocalFileSystem used to leave one `.tmp-….crc` per
    // swap (the data file moves, the sidecar doesn't) — an unbounded
    // accumulation under an auto-compacting stream
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_ == "BASE").toSeq
    assert(leftovers.isEmpty, s"pointer swap left files behind: $leftovers")
  }

  test("writeAtomic over a LEGACY checksummed destination drops the stale " +
    ".crc sidecar — a refreshed pre-raw-layer Bloom store stays readable") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = s"$tmp/legacy_bloom"
    // legacy writer: checksummed fs.create (what writeBloomFilter did
    // before the raw-layer writeAtomic) — leaves .bloom.bin.crc behind
    val bf0 = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    bf0.putString("old-gram")
    val p = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val lfs = p.getFileSystem(hc).asInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    val out = lfs.create(p, true)
    try bf0.writeTo(out) finally out.close()
    assert(new java.io.File(s"$dir/.bloom.bin.crc").exists(),
      "fixture setup: the legacy writer should have produced a crc sidecar")
    // in-place refresh through the raw-layer atomic writer: without the
    // sidecar cleanup the NEXT checksummed read throws ChecksumException
    val bf1 = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    bf1.putString("new-gram")
    graft.sources.Sinks.writeBloomFilter(bf1, dir, hc)
    assert(!new java.io.File(s"$dir/.bloom.bin.crc").exists(),
      "stale checksum sidecar survived the atomic rewrite")
    val back = graft.sources.Sinks.readBloomFilter(dir, hc)
    assert(back.mightContainString("new-gram") && !back.mightContainString("absent"),
      "refreshed legacy store did not serve the new bytes")
  }

  test("Fs primitives on a NON-LOCAL scheme take the FileContext branch: " +
    "atomic overwrite swap, absent-read None") {
    mockReady
    val root = s"mockfs:$tmp/mock_ptr"
    graft.sources.Fs.writeTextAtomic(s"$root/BASE", "gen-0")
    assert(graft.sources.Fs.readTextIfExists(s"$root/BASE") === Some("gen-0"))
    // the OVERWRITE rename path: destination exists
    graft.sources.Fs.writeTextAtomic(s"$root/BASE", "gen-1 gen-0")
    assert(graft.sources.Fs.readText(s"$root/BASE") === "gen-1 gen-0")
    // the staged temp file was consumed by the rename, nothing orphaned
    val leftovers = new java.io.File(s"$tmp/mock_ptr").listFiles()
      .filter(_.isFile).map(_.getName).filterNot(_ == "BASE").toSeq
    assert(leftovers.isEmpty, s"mock-scheme swap left files behind: $leftovers")
    // absent-mid-read contract
    assert(graft.sources.Fs.readTextIfExists(s"$root/ABSENT") === None)
    graft.sources.Fs.mkdirs(s"$root/a")
    graft.sources.Fs.mkdirs(s"$root/b")
    // listing / size helpers resolve through the scheme too. (fileSignatures
    // is not asserted here: RawLocal-behind-a-foreign-scheme cannot load
    // permissions for LocatedFileStatus — a shim artifact; real remote
    // filesystems return located statuses with permissions attached, and
    // the corpus fingerprint only ever runs on the DATA dir anyway.)
    assert(graft.sources.Fs.listSubdirs(root).map(_._1).toSet === Set("a", "b"))
    assert(graft.sources.Fs.sizeBytes(s"$root/BASE") > 0)
  }

  test("posting store lifecycle on a non-local scheme: build → refresh → " +
    "compact → probe race, answers equal a local-FS store") {
    mockReady
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val cut = docs.selectExpr("percentile(doc_id, 0.7)").head.getDouble(0).toLong
    val dir = s"mockfs:$tmp/postings_mock"
    val refDir = s"$tmp/postings_mock_ref"
    val terms = Seq("spark", "join", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def answers(p: String): (Seq[String], Seq[String], Seq[String]) = (
      rows(graft.sources.Sinks.probePostings(spark, p, terms)),
      rows(graft.sources.Sinks.probePostingsBm25(spark, p, terms, k = 20)),
      rows(Search.phrase(Search.Store(spark, p), Seq("slow", "join"))))

    graft.sources.Sinks.writePostings(docs.filter(col("doc_id") <= cut), dir, buckets = 16)
    // a committed version really lives on the mock scheme
    assert(graft.sources.Sinks.postingLog(dir).versions.exists(_.dir.startsWith("mockfs:")))
    // probe racing a refresh THROUGH THE MOCK SCHEME: every sampled answer
    // is the pre- or post-state — the isolation contract must hold on the
    // branch a remote deployment takes, not just on java.nio
    val before = answers(dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String], Seq[String])]()
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var stop = false
    val prober = new Thread(() =>
      try while (!stop) results.add(answers(dir))
      catch { case t: Throwable => failed.set(t) })
    prober.start()
    try graft.sources.Sinks.refreshPostings(spark, dir, docs.filter(col("doc_id") > cut))
    finally { stop = true; prober.join() }
    if (failed.get() != null) throw failed.get()
    val after = answers(dir)
    assert(after !== before, "refresh changed nothing — vacuous race")
    import scala.jdk.CollectionConverters._
    results.asScala.foreach { a =>
      assert(a._1 === before._1 || a._1 === after._1, "torn conjunctive read on mockfs")
      assert(a._2 === before._2 || a._2 === after._2, "torn BM25 read on mockfs")
      assert(a._3 === before._3 || a._3 === after._3, "torn phrase read on mockfs")
    }
    // compaction (a version commit marker via FileContext rename) is answer-invariant
    graft.sources.Sinks.compactPostings(spark, dir)
    assert(answers(dir) === after, "compaction changed answers on mockfs")
    // and the whole store answers exactly like one built on the local FS
    graft.sources.Sinks.writePostings(docs, refDir, buckets = 16)
    assert(answers(dir) === answers(refDir),
      "mock-scheme store diverged from the local-FS store")
  }

  test("EVERY standing store builds and serves through a non-local store root: " +
    "openStores on mockfs registers all eleven views and the SQL surface answers " +
    "identically to the default-root engine") {
    mockReady
    // a FRESH session so the mock store root lives in ITS conf (and its
    // temp-view catalog) without touching the shared session's stores
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.storeRoot", s"mockfs:$tmp/store_root_all")
    GraftSession.openStores(s2, sfDir)
    val views = Seq("graft_postings", "graft_docstats", "graft_search_meta",
      "graft_store_health", "graft_term_dict", "graft_latency_sketch",
      "graft_daily_rollup", "graft_shingle_pairs", "graft_pq_centroids",
      "graft_pq_codebook", "graft_pq_codes")
    views.foreach { v =>
      assert(s2.table(v).count() > 0, s"view $v empty through the mock scheme")
    }
    // the served SQL search through the mock-scheme store answers exactly
    // like the same query against the default-root store
    val got = graft.engine.LogOps.sqlSearchServed.build(s2, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val want = graft.engine.LogOps.sqlSearchServed.build(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want && got.nonEmpty,
      "mock-scheme SQL surface diverged from the default-root engine")
  }

  test("Stores registry end-to-end off the local FS: spark.graft.storeRoot " +
    "targets the mock scheme and probes answer identically") {
    mockReady
    try {
      spark.conf.set("spark.graft.storeRoot", s"mockfs:$tmp/store_root")
      val path = graft.sources.Stores.postingStore(spark, sfDir)
      assert(path.startsWith(s"mockfs:$tmp/store_root/graft_stores/"), path)
      assert(graft.sources.Sinks.postingLog(path).versions.nonEmpty)
      val got = graft.sources.Sinks
        .probePostingsBm25(spark, path, Seq("spark", "join"), k = 20)
        .collect().map(_.toString).toSeq
      spark.conf.unset("spark.graft.storeRoot")
      val defaultPath = graft.sources.Stores.postingStore(spark, sfDir)
      assert(!defaultPath.startsWith("mockfs:"), defaultPath)
      val want = graft.sources.Sinks
        .probePostingsBm25(spark, defaultPath, Seq("spark", "join"), k = 20)
        .collect().map(_.toString).toSeq
      assert(got === want, "store served off the mock scheme diverged")
      assert(got.nonEmpty)
    } finally spark.conf.unset("spark.graft.storeRoot")
  }
}
