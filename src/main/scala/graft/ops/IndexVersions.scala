package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic version switching for persisted on-disk indexes (the IVF
  * vector index, the inverted text index) — the snapshot discipline
  * that makes a WHOLE-INDEX rewrite (quantizer refit, full segment
  * merge) safe under live probes.
  *
  * The problem it closes: `maintainIvfIndex` / `compactInvertedIndex`
  * used to rewrite the live directory via checkpoint + overwrite, so a
  * probe running concurrently with a triggered rebuild could list a
  * torn file set (half old cells, half new). With versions, a rewrite
  * builds into a FRESH staging directory and then publishes a marker;
  * readers resolve the current version with one listing and from then
  * on touch only that version's immutable files — a concurrent rebuild
  * can never mix layouts under them.
  *
  * Layout under an index root `dir`:
  *  - `dir/_versions/v-%08d`       — one immutable marker file per
  *    published version (content = the version's data subdirectory
  *    name). Current = the HIGHEST marker.
  *  - `dir/v=N/...`                — version N's data tree (the same
  *    tables a flat index holds: centroids/assignments or
  *    postings/dfs/stats).
  *  - anything else under `dir`    — version-INDEPENDENT state (e.g.
  *    the stream-maintenance `vecs_seen`/`docs_seen` id history), plus
  *    the legacy flat layout of an index built before versioning.
  *
  * Why marker files instead of a mutable MANIFEST pointer: an
  * HDFS/S3-safe `rename` cannot atomically REPLACE an existing file
  * (HDFS rename-to-existing fails; S3 has no rename), but creating a
  * NEW immutable file is atomic on all of them (visible only once
  * closed / PUT completes). Max-of-listing over immutable markers is
  * therefore the portable "pointer written last": the marker is
  * created only after the staging tree is fully written, and a reader
  * either sees it (new complete version) or doesn't (old complete
  * version) — never a mix. This is the Iceberg/Delta snapshot idea
  * reduced to directory granularity, which is exactly the granularity
  * a whole-index rewrite produces anyway.
  *
  * Backward compatibility: an index without `_versions/` resolves to
  * `dir` itself (the pre-round-12 flat layout); its first versioned
  * rewrite publishes `v=1` and leaves the flat files for probes still
  * in flight (GC them with [[pruneTo]] once drained).
  *
  * Scale shape: resolve is ONE directory listing of marker-count
  * entries; publish is ONE file create. Nothing here scales with the
  * data. Cell/bucket-SCOPED compaction deliberately stays in-place
  * inside the current version (copying untouched partitions into a new
  * version would turn an O(cell) maintenance step into an O(index)
  * rewrite); its blast radius is the named partitions for the rewrite
  * window, the documented maintenance-job trade.
  */
object IndexVersions {

  private def fsOf(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    (p.getFileSystem(conf), p)
  }

  /** Existence check through the path's own Hadoop FileSystem — the
    * check every state-seeding/triggering gate in the streaming twins
    * must use (java.io.File silently reports false on hdfs:// or
    * s3a:// paths, disabling the gate). */
  def pathExists(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  /** Parquet data files under `dirs`, recursively; a missing directory
    * counts zero. The file-population figure the compactions report. */
  def countParquetFiles(spark: SparkSession, dirs: Seq[String]): Long =
    dirs.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var n = 0L
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
      }
      n
    }.sum

  private def markerDir(dir: String) = new Path(dir, "_versions")

  private def listVersions(fs: FileSystem, dir: String): Seq[Int] = {
    val md = markerDir(dir)
    if (!fs.exists(md)) Nil
    else fs.listStatus(md).toSeq
      .map(_.getPath.getName)
      // defensive: only well-formed markers count (a stray temp or
      // editor file in _versions/ must not crash every resolve)
      .collect { case n if n.startsWith("v-") &&
          n.stripPrefix("v-").forall(_.isDigit) &&
          n.length > 2 =>
        n.stripPrefix("v-").toInt }
      .sorted
  }

  /** Highest published version, if the index is versioned. */
  def currentVersion(dir: String): Option[Int] = {
    val (fs, _) = fsOf(dir)
    listVersions(fs, dir).lastOption
  }

  /** The CURRENT data root: `dir/v=N` for the highest published
    * version, `dir` itself for a legacy flat index. Every reader
    * resolves once and then touches only that version's files. */
  def resolve(dir: String): String =
    currentVersion(dir) match {
      case Some(v) => s"$dir/v=$v"
      case None => dir
    }

  private val StagingOwnerFile = "_staging_owner"

  /** Allocate the next version number and its (not yet published)
    * staging directory. The caller writes the full data tree there,
    * then calls [[publish]]. A crash between staging and publish
    * leaves an orphaned tree at EXACTLY this path (the version counter
    * only advances on publish), and the default ErrorIfExists save
    * mode would then wedge every later whole-index pass on "path
    * already exists" — so an existing unpublished staging directory is
    * reclaimed (deleted) here before reuse. Safe for READERS by
    * construction: no marker means no reader ever resolved into it.
    *
    * Writer-collision guard: maintenance is documented single-writer,
    * but silent reclaim would turn a second concurrent writer from a
    * loud ErrorIfExists failure into both writers interleaving into
    * ONE staging path — the first publish could flip readers to a
    * mixed tree. So every staging allocation drops an owner token
    * (`_staging_owner`: pid@host) into the fresh tree; reclaiming a
    * tree whose token is younger than `staleAfterMs` (default 15 min)
    * throws instead, on the presumption its writer is still alive. A
    * token-less or stale tree (a crashed run, or a test-fabricated
    * orphan) reclaims with a logged warning; [[publish]] removes the
    * token, so published trees carry no staging residue. */
  def nextStaging(dir: String,
                  staleAfterMs: Long = 15L * 60 * 1000): (Int, String) = {
    val v = currentVersion(dir).getOrElse(0) + 1
    val staging = s"$dir/v=$v"
    val (fs, _) = fsOf(dir)
    val p = new Path(staging)
    if (fs.exists(p)) {
      val tok = new Path(p, StagingOwnerFile)
      val hadToken = fs.exists(tok)
      if (hadToken) {
        val age = System.currentTimeMillis() -
          fs.getFileStatus(tok).getModificationTime
        if (age < staleAfterMs)
          throw new IllegalStateException(
            s"staging tree $staging carries an owner token ${age}ms old " +
              s"(< $staleAfterMs): a concurrent whole-index writer is " +
              "likely in progress — index maintenance is single-writer. " +
              s"Wait for it (or delete $tok to override a known-dead run).")
      }
      System.err.println(s"[IndexVersions] reclaiming orphaned staging " +
        s"tree $staging (" +
        (if (hadToken) "stale owner token" else "no owner token") + ")")
      fs.delete(p, true)
    }
    fs.mkdirs(p)
    val out = fs.create(new Path(p, StagingOwnerFile), false)
    try out.write((ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName + "\n")
      .getBytes("UTF-8")) finally out.close()
    (v, staging)
  }

  /** Publish version `v`: create its immutable marker — the single
    * atomic step that flips readers to the new tree. Must be called
    * only after the staging tree is complete. */
  def publish(dir: String, v: Int): Unit = {
    val (fs, _) = fsOf(dir)
    // the staging-owner token is maintenance residue, not data: drop
    // it before the flip so published trees are clean (a crash between
    // this delete and the marker leaves a complete, token-less,
    // unpublished tree — reclaimed with a warning next pass)
    fs.delete(new Path(s"$dir/v=$v", StagingOwnerFile), false)
    fs.mkdirs(markerDir(dir))
    val marker = new Path(markerDir(dir), f"v-$v%08d")
    val out = fs.create(marker, false) // never overwrite: double publish fails loudly
    try out.write(s"v=$v\n".getBytes("UTF-8")) finally out.close()
  }

  /** Garbage-collect versions older than the newest `keep` (default:
    * previous + current, covering probes still on the old snapshot).
    * Never touches the legacy flat files or version-independent state:
    * only `v=N` trees whose marker is pruned. */
  def pruneTo(dir: String, keep: Int = 2): Unit = {
    // the safety floor lives HERE so every caller inherits it (not just
    // maintainIvfIndex's pruneKeep path): keep=1 would delete the
    // previous snapshot a concurrent probe may be mid-read, keep=0 the
    // current one
    require(keep >= 2, s"pruneTo keep=$keep would delete a version a " +
      "concurrent probe may still be reading — keep at least 2")
    val (fs, _) = fsOf(dir)
    val vs = listVersions(fs, dir)
    vs.dropRight(keep).foreach { v =>
      fs.delete(new Path(s"$dir/v=$v"), true)
      fs.delete(new Path(markerDir(dir), f"v-$v%08d"), false)
    }
  }
}
