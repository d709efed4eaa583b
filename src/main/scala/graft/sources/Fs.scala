package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The ONE filesystem seam for every store / segment / marker codepath.
  *
  * Stores, streaming segments and completion markers must behave
  * identically whether the store root is a local directory (this
  * sandbox) or HDFS/S3A (where a 100 TB corpus actually lives). A bare
  * `java.io.File` check on a remote filesystem silently answers
  * "absent" — the exact hazard [[graft.engine.SqlOps]] documents — so
  * every existence probe, marker write, recursive delete, directory
  * listing and rename in the store plumbing routes through this object,
  * which resolves each path against the Hadoop `FileSystem` of the
  * active Spark session's configuration (scheme-aware: `s3a://…` and
  * `/local/path` both do the right thing).
  *
  * All operations here are driver-side metadata calls on store-shaped
  * paths (markers, segment directories, version listings) — never data
  * moves — so the remote round-trips are O(segments), not O(rows).
  */
private[graft] object Fs {

  /** Hadoop configuration of the running session (falls back to a bare
    * `Configuration` for test paths created before any session exists —
    * local-FS semantics, same as the old java.io behavior).
    */
  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def resolve(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(conf), path)
  }

  def exists(p: String): Boolean = {
    val (fs, path) = resolve(p)
    fs.exists(path)
  }

  /** Canonical fully-qualified form of `p` (`/tmp/x` and `file:/tmp/x`
    * qualify identically) — the cache-key normalizer: path strings reach
    * the store code both raw (caller-built) and scheme-prefixed (from
    * directory listings).
    */
  def qualify(p: String): String = {
    val (fs, path) = resolve(p)
    fs.makeQualified(path).toString
  }

  /** Recursive delete; absent path is a no-op (matches the old rm). */
  def delete(p: String): Unit = {
    val (fs, path) = resolve(p)
    fs.delete(path, true): Unit
  }

  def mkdirs(p: String): Unit = {
    val (fs, path) = resolve(p)
    fs.mkdirs(path): Unit
  }

  /** Create an empty marker file (parents included), overwriting. */
  def touch(p: String): Unit = {
    val (fs, path) = resolve(p)
    fs.create(path, true).close()
  }

  /** ATOMIC single-file replace — the primitive behind [[StoreLog]]'s
    * commit markers (a marker appears whole, watermark included, or not
    * at all): write the new content to a uniquely-named sibling temp
    * file (two concurrent writers must never stage into the same name),
    * then rename it over the destination with the strongest replace
    * primitive the filesystem offers. A reader sees
    * the old content or the new content, never a torn write and never an
    * absent file; under concurrent swaps the last rename wins.
    *
    *  - Local filesystem: `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)` =
    *    POSIX rename(2), an atomic replace. (Hadoop's `FileContext`
    *    OVERWRITE on the local scheme is emulated as delete-then-rename —
    *    a window where the pointer is absent — so it is NOT used here.)
    *  - HDFS and other remote schemes: `FileContext.rename(...,
    *    OVERWRITE)`, a single atomic namenode operation.
    */
  def writeTextAtomic(p: String, content: String): Unit =
    writeAtomic(p)(_.write(content.getBytes("UTF-8")))

  /** [[writeTextAtomic]]'s generic form: `fill` streams the new content
    * into the staged temp file, and the same strongest-available rename
    * replaces the destination — the shared primitive behind the commit
    * markers (text) and the Bloom store's binary rewrite, so a
    * reader of either sees old bytes or new bytes, never a truncated
    * file.
    */
  private[graft] def writeAtomic(p: String)(fill: java.io.OutputStream => Unit): Unit = {
    val (fs, path) = resolve(p)
    val tmp = new Path(p + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    // On the local scheme, create the temp through the RAW (checksum-free)
    // layer: the checksummed LocalFileSystem writes a `.tmp-….crc` sidecar
    // that the data-file-only move below would orphan — one stray file per
    // marker write, unbounded under an auto-compacting stream.
    val out = fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem.create(tmp, true)
      case other => other.create(tmp, true)
    }
    try fill(out) finally out.close()
    // Branch on the filesystem's SCHEME, not its class: a test FileSystem
    // backed by RawLocal but registered under a non-local scheme must take
    // the remote branch — that is how FsSpec covers the FileContext path
    // without an HDFS cluster.
    val scheme = fs.getUri.getScheme
    // A destination first created by a CHECKSUMMED writer (fs.create on
    // LocalFileSystem — the pre-raw-layer Bloom writer did this) carries a
    // `.<name>.crc` sidecar; the raw-layer move below replaces the data
    // bytes only, so a stale sidecar would make every later checksummed
    // read throw ChecksumException — the store would become unreadable
    // after its first in-place refresh. Drop the sidecar BEFORE the move:
    // old-data+no-crc and new-data+no-crc both read fine (a missing
    // sidecar skips verification); new-data+stale-crc is the broken state.
    fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem =>
        l.getRawFileSystem.delete(l.getChecksumFile(path), false): Unit
      case _ => ()
    }
    if (scheme == null || scheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(path.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    else
      FileContext.getFileContext(path.toUri, conf)
        .rename(tmp, path, Options.Rename.OVERWRITE)
  }

  def readText(p: String): String = {
    val (fs, path) = resolve(p)
    val in = fs.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** `readText` if the file exists, else None — one round-trip fewer
    * than exists-then-read is not worth a race; absent-after-check reads
    * throw and this catches exactly that (FileNotFound), so a pointer
    * file that appears or vanishes mid-call still yields a consistent
    * answer.
    */
  def readTextIfExists(p: String): Option[String] = {
    try Some(readText(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Immediate subdirectories of `p` as (name, full path); empty when
    * `p` is absent — segment/version discovery.
    */
  def listSubdirs(p: String): Seq[(String, String)] = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(st => (st.getPath.getName, st.getPath.toString))
  }

  /** Total bytes under `p` (0 when absent) — soak-report sizing. */
  def sizeBytes(p: String): Long = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  /** SHALLOW (one listStatus call) signature of `p`'s direct entries —
    * (name, length, mtime) per child, files and directories alike. The
    * store-read-memo invalidation key: a filesystem write never modifies
    * a file in place (write-temp-rename / delete), so any mutation inside
    * a child directory bumps that directory's mtime and surfaces here,
    * while a day- or bucket-partitioned store with hundreds of
    * subdirectories costs ONE metadata call instead of the recursive walk
    * (measured: the recursive fingerprint cost more than the footer job
    * it saved on partitioned stores).
    */
  def shallowSignature(p: String): Seq[String] = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map { st =>
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
    }
  }

  /** Recursive (name, length, mtime) signature lines of every file under
    * `p` — the store-registry corpus fingerprint input. Driver-side
    * metadata listing only.
    */
  def fileSignatures(p: String): Seq[String] = {
    val (fs, path) = resolve(p)
    if (!fs.exists(path)) Seq.empty
    else {
      val it = fs.listFiles(path, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        out += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      }
      out.toSeq
    }
  }
}
