package graft.storage

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The on-disk commit protocol of this engine's stored artifacts: the
  * stored ANN index's transfer manifest
  * ([[graft.operators.Similarity.ivfPqIndexManifest]],
  * [[graft.operators.Similarity.ivfPqIndexVerify]]) and the Z-order table
  * rewrite ([[graft.operators.Layout.optimizeZordered]]). Four pieces,
  * each existing once:
  *
  *   - MANIFESTS — `_`-prefixed line files (invisible to Spark readers):
  *     [[readLines]], the line format [[manifestLine]] and its parse
  *     ([[parseManifestLine]]), and the atomic
  *     tmp-write-then-rename [[publish]];
  *   - the FILE DIGEST — [[digest]]: one distributed streamed md5 +
  *     byte-count pass, one task per file, with the row count read from
  *     the parquet footer;
  *   - EXCLUSION — the maintenance staging dir is a [[sibling]] of the
  *     normalized root and doubles as the mutex ([[acquireMutex]]); writers
  *     hold an append lease ([[withAppendLease]]). The appender raises its
  *     lease BEFORE looking for the staging, the maintainer raises its
  *     staging BEFORE scanning leases — whatever the interleaving, at
  *     least one side observes the other and fails fast. Staleness of a
  *     lease or mutex is judged on the store's clock ([[storeNow]]);
  *   - HEAL AND SWAP — a swap retires the live copy INTO staging before
  *     renaming the fresh one over it ([[swap]]), so at every instant the
  *     rows exist in the live tree or the staging tree, never nowhere; the
  *     next maintenance call restores every retired copy before anything
  *     else ([[heal]]). The retired copy ALWAYS wins: a live twin may be a
  *     partial rename (copy+delete on object stores), while rolling back a
  *     swap that completed merely discards a redundant rewrite.
  *
  * Every rename is checked: Hadoop reports most rename failures as `false`,
  * and proceeding to a recursive staging delete after a failed rename would
  * destroy the only copy. A failed step leaves the staging dir in place
  * for the next call's heal.
  *
  * Atomicity caveat: `create(overwrite = false)` and rename are atomic on
  * HDFS and local filesystems. On S3A-style object stores existence is
  * checked at create() and the object lands at close(), so two racers can
  * both take the mutex — run maintenance single-writer there, as the store
  * docs themselves require for rename-based committers. */
object StoreProtocol {

  val ManifestName = "_manifest.jsonl"
  private val LeasesDir = "_leases"
  private val MutexName = "_mutex"
  private val Retired = "retired"

  /** Default staleness bound for leases and the maintenance mutex: size it
    * above the longest expected maintenance run. */
  val StaleMs: Long = 60L * 60 * 1000

  // ------------------------------------------------------------ manifests --

  def readLines(fs: FileSystem, file: Path): List[String] = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Replace `file` via tmp-write + rename (the `_`-prefixed tmp is
    * reader-invisible; a crash between delete and rename leaves NO file
    * rather than a truncated one whose lines still parse — absent means
    * re-stamp). */
  def publish(fs: FileSystem, file: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(file.getParent, file.getName + ".tmp")
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
    finally out.close()
    if (fs.exists(file)) fs.delete(file, false)
    rename(fs, tmp, file, s"manifest publish rename to $file failed; tmp preserved")
  }

  /** One manifest line: `{<lead>,"file","rows","bytes","md5"}`, where `lead`
    * is the caller's already-JSON partition field (`"cluster":"cluster=3"`
    * for the index). Fixed formatting, so two
    * stamps of the same bytes are byte-identical. Stamping requires a
    * readable row count — a corrupt live file must fail the stamp, not be
    * recorded as truth. */
  def manifestLine(lead: String, d: FileDigest): String = {
    val rows = d.rows.fold(
      reason => throw new IllegalStateException(s"cannot stamp manifest: ${d.file} has $reason"),
      identity)
    s"""{$lead,"file":"${d.file}","rows":$rows,"bytes":${d.bytes},"md5":"${d.md5}"}"""
  }

  final case class ManifestEntry(file: String, rows: Long, bytes: Long, md5: String)

  private val FileField = """"file":"([^"]+)"""".r
  private val RowsField = """"rows":(\d+)""".r
  private val BytesField = """"bytes":(\d+)""".r
  private val Md5Field = """"md5":"([0-9a-f]{32})"""".r

  /** Every field of a [[manifestLine]]; None for a line that does not parse
    * (a damaged manifest copy). */
  def parseManifestLine(line: String): Option[ManifestEntry] =
    for {
      f <- FileField.findFirstMatchIn(line).map(_.group(1))
      r <- RowsField.findFirstMatchIn(line).map(_.group(1).toLong)
      b <- BytesField.findFirstMatchIn(line).map(_.group(1).toLong)
      m <- Md5Field.findFirstMatchIn(line).map(_.group(1))
    } yield ManifestEntry(f, r, b, m)

  // ---------------------------------------------------------- file digest --

  /** `rows` is `Left(reason)` when a parquet footer is unreadable (a
    * truncated or corrupted file), so callers decide whether that is fatal
    * (stamping) or a finding (verification). */
  final case class FileDigest(dir: String, name: String,
                              rows: Either[String, Long], bytes: Long, md5: String) {
    def file: String = s"$dir/$name"
  }

  /** (partition dir name, absolute file) → one distributed task per file:
    * the exact bytes streamed once for md5 and byte count, rows from the
    * parquet footer of the same file (no data decode). Results come back
    * in input order; the driver holds metadata only. */
  def digest(spark: SparkSession, files: Seq[(String, String)]): Seq[FileDigest] = {
    if (files.isEmpty) return Nil
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.parallelize(files, files.length)
      .map { case (dir, file) =>
        val p = new Path(file)
        val conf = bc.value.value
        val md = java.security.MessageDigest.getInstance("MD5")
        var bytes = 0L
        val in = p.getFileSystem(conf).open(p)
        val buf = new Array[Byte](1 << 20)
        try {
          var n = in.read(buf)
          while (n > 0) {
            md.update(buf, 0, n); bytes += n
            n = in.read(buf)
          }
        } finally in.close()
        val count: Either[String, Long] =
          try {
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
            try Right(rdr.getRecordCount) finally rdr.close()
          } catch { case e: Exception => Left(s"unreadable parquet footer (${e.getMessage})") }
        FileDigest(dir, p.getName, count, bytes, md.digest().map("%02x".format(_)).mkString)
      }.collect().toSeq
  }

  // ------------------------------------------------------------ exclusion --

  /** A staging sibling of `root`: derived from the NORMALIZED path
    * (trailing slashes stripped by `new Path`), so every writer, guard and
    * heal agrees on it — raw `path + suffix` on a trailing-slash path would
    * stage INSIDE the root, where no guard ever looks. */
  def sibling(root: Path, suffix: String): Path = new Path(root.toString + suffix)

  /** Read the STORE's clock: create a probe file next to `root`, take its
    * modification time, delete it. Staleness compares two store-assigned
    * times this way, so a client whose clock skews from the store can
    * neither scrub a live lease early nor hold a dead one past the bound.
    * The probe lives in root's PARENT — the one directory shared by the
    * root and its staging sibling that no maintenance run deletes or
    * renames, so probing can never resurrect a vanished staging dir or a
    * retired root — and is `_`-prefixed (invisible to Spark readers). Store
    * mtime granularity (seconds on some object stores) is dwarfed by the
    * hour-scale bounds it feeds. */
  private def storeNow(fs: FileSystem, root: Path): Long = {
    val probe = new Path(root.getParent, s"_clockprobe-${java.util.UUID.randomUUID()}")
    fs.create(probe, true).close()
    // the delete rides a finally: nothing else ever scrubs a leaked probe
    try fs.getFileStatus(probe).getModificationTime
    finally fs.delete(probe, false)
  }

  /** Run `body` under an append lease — one `_leases/lease-<uuid>` file per
    * in-flight write — after checking that no maintenance `staging` exists
    * (a live run or a crashed one awaiting heal: files landed mid-swap can
    * die to the heal's retired-copy restore). Lease FIRST, then the check:
    * the ordering IS the protocol. The lease is dropped on every exit,
    * including failure; only a killed JVM leaves one behind, which
    * [[acquireMutex]] scrubs once it is stale. */
  def withAppendLease[A](fs: FileSystem, root: Path, staging: Path)(body: => A): A = {
    val lease = new Path(new Path(root, LeasesDir), s"lease-${java.util.UUID.randomUUID()}")
    fs.mkdirs(lease.getParent)
    fs.create(lease, true).close()
    try {
      if (fs.exists(staging))
        throw new IllegalStateException(
          s"$root is under maintenance ($staging exists): writing mid-swap " +
            "can lose rows. Retry after the maintenance call returns; if it " +
            "crashed, calling it again heals first.")
      body
    } finally fs.delete(lease, false)
  }

  /** Take the maintenance mutex: `create(overwrite = false)` on
    * `staging/_mutex` (raising the staging dir implicitly) throws for every
    * caller but one. Then, in order:
    *
    *   1. RE-CHECK the mutex: the staging dir becomes visible a beat before
    *      the mutex file inside it, and a concurrent caller's [[heal]] reads
    *      that window as a crashed run and deletes it. Re-checking catches a
    *      healer that already ran over us. Not a total fix: a healer whose
    *      probe ran inside the create window but whose delete lands after
    *      this re-check leaves this run unguarded against a THIRD caller —
    *      microseconds wide against a mutex that lives for the whole run;
    *   2. scan `root/_leases`: a lease older than `staleMs` is a killed
    *      writer's and is scrubbed (its uncommitted files are the caller's
    *      to scrub); a live lease makes this call back off, releasing the
    *      staging. Retry later.
    *
    * On return the caller holds the mutex and must drop `staging` on every
    * non-destructive exit; after a destructive step it leaves staging in
    * place on failure, for the next call's heal. */
  def acquireMutex(fs: FileSystem, root: Path, staging: Path, staleMs: Long): Unit = {
    val mutex = new Path(staging, MutexName)
    try fs.create(mutex, false).close()
    catch { case e: java.io.IOException =>
      throw new IllegalStateException(
        s"$root: a concurrent maintenance call won the mutex race ($mutex " +
          "already exists). Retry after it finishes.", e)
    }
    if (!fs.exists(mutex))
      throw new IllegalStateException(
        s"$root: maintenance mutex $mutex vanished after acquisition — a " +
          "concurrent caller's crash-heal raced the acquisition window. Retry.")
    val leasesDir = new Path(root, LeasesDir)
    if (fs.exists(leasesDir)) {
      val now = storeNow(fs, root)
      val (stale, live) = fs.listStatus(leasesDir)
        .filter(_.getPath.getName.startsWith("lease-"))
        .partition(l => now - l.getModificationTime >= staleMs)
      stale.foreach(l => fs.delete(l.getPath, false))
      if (live.nonEmpty) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"$root has ${live.length} append lease(s) in flight ($leasesDir): " +
            "maintenance now could destroy files the append is landing. Retry " +
            s"after the appends finish; a lease older than $staleMs ms is " +
            "treated as a crashed appender and scrubbed automatically.")
      }
    }
  }

  // -------------------------------------------------------- heal and swap --

  private def retired(staging: Path, rel: String): Path =
    new Path(staging, if (rel.isEmpty) Retired else s"${Retired}_$rel")

  private def live(root: Path, rel: String): Path =
    if (rel.isEmpty) root else new Path(root, rel)

  private def rename(fs: FileSystem, from: Path, to: Path, failure: String): Unit =
    require(fs.rename(from, to), failure)

  /** Heal a previous maintenance run at `staging`, then discard it. A
    * staging whose mutex is younger than `staleMs` belongs to a run still
    * in progress: healing it would roll back its swaps mid-run, so this
    * call fails fast instead (as it does when the other run's artifacts
    * vanish under the probes — that run just finished; the retry sees the
    * settled state). A mutex-less or stale staging is a crashed run: every
    * retired copy is renamed back over its live twin (deleting the twin
    * first), then staging is dropped. Recovery latency for a killed
    * maintainer is therefore bounded by `staleMs`. */
  def heal(fs: FileSystem, root: Path, staging: Path, staleMs: Long): Unit = {
    if (!fs.exists(staging)) return
    val mutex = new Path(staging, MutexName)
    def refuseLive(): Nothing = throw new IllegalStateException(
      s"$root is under maintenance by another caller ($mutex is live): two " +
        "concurrent maintenance runs would race the same staging tree. Retry " +
        s"after it finishes; a mutex older than $staleMs ms is treated as " +
        "crashed and healed automatically.")
    val mutexLive =
      try fs.exists(mutex) &&
        storeNow(fs, root) - fs.getFileStatus(mutex).getModificationTime < staleMs
      catch { case _: java.io.FileNotFoundException => refuseLive() }
    if (mutexLive) refuseLive()
    val retiredCopies =
      try fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith(Retired))
      catch { case _: java.io.FileNotFoundException => refuseLive() }
    retiredCopies.foreach { r =>
      val twin = live(root, r.getName.stripPrefix(Retired).stripPrefix("_"))
      if (fs.exists(twin)) fs.delete(twin, true)
      rename(fs, r, twin, s"crash-heal rename of $r to $twin failed; staging " +
        "preserved — resolve manually before the next maintenance call")
    }
    fs.delete(staging, true)
  }

  /** Swap `fresh` in for the live tree at `rel` under `root` (`""` = the
    * root itself): retire the live copy into `staging`, then rename `fresh`
    * over it. Both renames checked; a failure leaves staging for [[heal]]. */
  def swap(fs: FileSystem, root: Path, staging: Path, rel: String, fresh: Path): Unit = {
    val target = live(root, rel)
    val old = retired(staging, rel)
    rename(fs, target, old, s"retire rename $target -> $old failed; staging preserved for heal")
    rename(fs, fresh, target, s"swap rename $fresh -> $target failed; staging " +
      "preserved — the next maintenance call heals it")
  }
}
