package graft.sources

import org.apache.spark.sql.SparkSession

/** The one commit protocol of the log-structured standing stores: the
  * posting store ([[Sinks.writePostings]]), the pair-ingest sink's doc side
  * ([[graft.streaming.Streaming.shinglePairsIngestBatch]]) and the keyed-
  * and sketch-upsert sinks ([[graft.streaming.Streaming.upsertBatch]]).
  *
  * {{{
  *   root/gen-<id>[-<suffix>]/…       VERSION: one complete store state
  *   root/gen-<id>[-…]/_COMMIT        its marker; text = folded_through
  *   segRoot/b=<id>/…                 SEGMENT: one append batch
  *   segRoot/b=<id>/_COMMIT           its marker
  * }}}
  *
  * `segRoot` is optional: the upsert sinks' logs have versions only.
  *
  * Invariants (StoreLogSpec pins each, on the local and a non-local
  * scheme):
  *  - COMMIT: a directory counts only once its `_COMMIT` marker exists, and
  *    the marker is written last, so a crash at any write step leaves the
  *    previous state visible.
  *  - CURRENT: the highest committed version (by id, then name) is the
  *    store. Its marker records `folded_through`, the highest segment id it
  *    folded; the committed segments above that watermark are visible over
  *    it. Readers take one [[StoreLog.Snapshot]] and plan against its
  *    directories only, so they never depend on listing order and never
  *    see a torn union: visibility flips with one marker create.
  *  - REPLAY: writing an existing version or segment id drops its marker,
  *    rewrites the directory, then re-commits; readers meanwhile see the
  *    state without it. Replays of one batch write identical contents.
  *  - ALLOCATION: a new version takes id current + 1 under a unique suffix,
  *    so two racing writers that both read the same current build side by
  *    side and converge on the higher name, both complete. A new segment
  *    takes [[StoreLog.Snapshot.nextSegment]], above both watermarks.
  *  - GUARD ([[guard]]): a segment id strictly below the watermark is
  *    rejected (a sink restarted with a fresh checkpoint would land
  *    invisible docs that GC then deletes); an id equal to it lands
  *    invisible, with a warning when no prior segment of that id exists.
  *  - GC: every version commit keeps the newest 1 + `spark.graft.
  *    genRetention` committed versions and deletes the older ones, the
  *    uncommitted version directories with an id below the current one,
  *    and the segments every state in that window has folded (a log with
  *    fewer versions than the window still holds its empty first state,
  *    which folded none). A snapshot thus stays readable across
  *    `genRetention` further commits; one that outlives the window fails
  *    with a missing-file error, never a wrong answer, because
  *    directories are only deleted whole.
  *
  * Logs written before this module (store format v6) carry other markers.
  * The upsert sinks' `v=<batchId>/_SUCCESS` and the pair-sink doc side's
  * `base/v=<id>/_COMMIT` (empty, folded through `<id>`) differ from a
  * version only in name and marker, so a `v=<id>` directory with either
  * marker is read as a committed version folded through `<id>`, and a
  * resumed sink carries on from it. A v6 posting store (a `BASE` pointer
  * file over marker-less `gen-*` directories) is refused before any read,
  * write or GC, and so is a stream-only one by its segments' `segmeta`
  * (`Sinks.postingsView`): rebuild it into an empty path.
  *
  * Readers are concurrent with everything. Writers assume one maintainer
  * per store (in-process: Stores' build lock and the single streaming-sink
  * thread); two concurrent garbage collections could retire each other's
  * version in progress, so cross-process maintenance belongs to one
  * scheduler, as with any LSM.
  */
private[graft] final class StoreLog(root: String, segRoot: Option[String] = None) {
  import StoreLog._

  /** (id, name, dir) of every `<pfx><id>[-…]` directory under `dir` whose
    * prefix is one of `pfxs`, ordered.
    */
  private def entries(dir: String, pfxs: String*): Seq[(Long, String, String)] =
    Fs.listSubdirs(dir)
      .flatMap { case (name, path) =>
        pfxs.find(name.startsWith)
          .flatMap(p => name.stripPrefix(p).takeWhile(_ != '-').toLongOption)
          .map(id => (id, name, path))
      }
      .sortBy(e => (e._1, e._2))

  private def committed(dir: String): Boolean = Fs.exists(s"$dir/$Marker")

  /** Every version directory on disk, committed or not, and the committed
    * ones as versions, oldest first; refuses a v6 posting store.
    */
  private def listVersions: (Seq[(Long, String)], Seq[Version]) = {
    val all = entries(root, VersionPrefix, LegacyPrefix)
    val done = all.collect { case (id, name, dir)
      if committed(dir) || name.startsWith(LegacyPrefix) && Fs.exists(s"$dir/_SUCCESS") =>
      Version(id, name, dir)
    }
    // only a log with directories but no committed version can be one, so
    // a live log never pays for this check
    if (done.isEmpty && all.nonEmpty && Fs.exists(s"$root/BASE"))
      throw new IllegalStateException(s"$root is a posting store in the v6 " +
        "layout (a BASE pointer over gen-* directories), which this version " +
        "does not read; rebuild the store into an empty path")
    (all.map(e => (e._1, e._3)), done)
  }

  /** Committed versions, oldest first. */
  def versions: Seq[Version] = listVersions._2

  /** Every version directory on disk, committed or not. */
  def versionDirs: Seq[String] = listVersions._1.map(_._2)

  private def segments: Seq[(Long, String, String)] =
    segRoot.fold(Seq.empty[(Long, String, String)])(entries(_, SegPrefix))

  /** The current version and the committed segments visible over it. */
  def snapshot: Snapshot = {
    val cur = versions.lastOption
    val wm = cur.fold(-1L)(_.foldedThrough)
    Snapshot(cur, segments.collect { case (id, _, dir) if id > wm && committed(dir) => (id, dir) })
  }

  def segmentDir(id: Long): String = s"${segRoot.get}/$SegPrefix$id"
  def versionDir(id: Long): String = s"$root/$VersionPrefix$id"

  /** A fresh directory for the version after the current one. */
  def newVersionDir(): String =
    s"${versionDir(versions.lastOption.fold(0L)(_.id + 1))}-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** The one watermark guard for an explicit segment id (see the class
    * doc); `what` names the caller in the messages.
    */
  def guard(id: Long, snap: Snapshot, what: String): Unit = {
    val wm = snap.watermark
    require(id >= wm,
      s"$what batchId=$id is below the fold watermark folded_through=$wm — " +
        "not a replay: the segment would be invisible and GC'd. Allocate ids " +
        "above the watermark or keep the sink's checkpoint so batch ids " +
        "resume past it.")
    // A replay of the folded-through batch and a sink restarted with a
    // reset checkpoint at the watermark id look alike; only the second
    // loses data, and only when no segment of that id was ever landed.
    if (id == wm && !Fs.exists(segmentDir(id)))
      System.err.println(
        s"[graft] WARNING: $what batchId=$id EQUALS the fold watermark and " +
          s"no prior segment exists at ${segmentDir(id)}. If this sink " +
          "restarted with a reset checkpoint (not replaying), the batch is " +
          "invisible and GC'd — resume past the watermark instead.")
  }

  /** Write segment `id` through `write(dir)` and commit it. */
  def writeSegment(id: Long)(write: String => Unit): Unit =
    rewrite(segmentDir(id), "")(write)

  /** Write version directory `dir` through `write(dir)`, commit it with
    * its watermark, then collect garbage; returns the deleted directories.
    */
  def commitVersion(spark: SparkSession, dir: String, foldedThrough: Long)(
      write: String => Unit): Seq[String] = {
    rewrite(dir, foldedThrough.toString)(write)
    gc(spark)
  }

  private def rewrite(dir: String, mark: String)(write: String => Unit): Unit = {
    Fs.delete(s"$dir/$Marker")
    write(dir)
    Fs.writeTextAtomic(s"$dir/$Marker", mark)
  }

  private def gc(spark: SparkSession): Seq[String] = {
    val (all, done) = listVersions
    val keep = 1 + retention(spark)
    val kept = done.takeRight(keep)
    val folded = if (done.size >= keep) kept.map(_.foldedThrough).min else -1L
    val open = all.filterNot(e => done.exists(_.dir == e._2))
    val doomed = done.dropRight(kept.size).map(_.dir) ++
      open.filter(_._1 < kept.last.id).map(_._2) ++
      segments.filter(_._1 <= folded).map(_._3)
    doomed.foreach(Fs.delete)
    doomed
  }
}

private[graft] object StoreLog {
  private val Marker = "_COMMIT"
  private val VersionPrefix = "gen-"
  private val SegPrefix = "b="
  /** The v6 version name of the upsert sinks and the pair-sink doc side. */
  private val LegacyPrefix = "v="

  final case class Version(id: Long, name: String, dir: String) {
    lazy val foldedThrough: Long =
      if (name.startsWith(LegacyPrefix)) id
      else Fs.readText(s"$dir/$Marker").trim.toLong
  }

  /** One consistent read of a log. */
  final case class Snapshot(current: Option[Version], segments: Seq[(Long, String)]) {
    def watermark: Long = current.fold(-1L)(_.foldedThrough)
    /** The directories a reader unions: the version, then the segments. */
    def dirs: Seq[String] = current.map(_.dir).toSeq ++ segments.map(_._2)
    /** The next free segment id, above the watermark and every segment. */
    def nextSegment: Long = (watermark +: segments.map(_._1)).max + 1
  }

  /** `spark.graft.genRetention`: the committed versions kept beyond the
    * current one (default and minimum 1).
    */
  def retention(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.genRetention")
      .map(v => v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.genRetention must be an integer, got '$v'")))
      .getOrElse(1).max(1)
}
