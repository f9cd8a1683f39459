package graft.storage

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The stored ANN index's transfer manifest, as its two calls use it:
  * [[graft.operators.Similarity.ivfPqIndexManifest]] stamps it and
  * [[graft.operators.Similarity.ivfPqIndexVerify]] checks a copy against it.
  * Two pieces:
  *
  *   - MANIFESTS — `_`-prefixed line files (invisible to Spark readers):
  *     [[readLines]], the line format [[manifestLine]] and its parse
  *     ([[parseManifestLine]]), and the tmp-write-then-rename [[publish]],
  *     whose rename is checked (Hadoop reports most rename failures as
  *     `false`, not as an exception);
  *   - the FILE DIGEST — [[digest]]: one distributed streamed md5 +
  *     byte-count pass, one task per file, with the row count read from
  *     the parquet footer.
  *
  * Atomicity caveat: [[publish]] replaces the manifest atomically only
  * where rename is atomic (HDFS, local filesystems). On S3A-style object
  * stores rename is a copy then a delete, and nothing here excludes a
  * second writer, so stamp an index from one writer at a time. */
object StoreProtocol {

  val ManifestName = "_manifest.jsonl"

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
    require(fs.rename(tmp, file), s"manifest publish rename to $file failed; tmp preserved")
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
}
