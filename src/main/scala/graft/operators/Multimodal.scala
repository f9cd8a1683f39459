package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary` payloads
  * plus a typed metadata struct, with decode/feature steps as per-partition
  * batch functions.
  *
  * Spark-side plumbing (schema, partitioning, batch shape) is real and
  * tested. The decode step dispatches on magic bytes: PNG/JPEG/GIF payloads
  * get their REAL dimensions and mime parsed from the header by
  * [[HeaderCodec]] (pure JVM, no library), anything else falls back to the
  * deterministic [[FakeCodec]] — the seam where a full pixel decoder (JNI /
  * library call) would slot in without touching the dataflow.
  *
  * Scale design: payloads stay columnar in parquet (binary column, never
  * driver-collected); decode is `mapPartitions` so one task amortizes codec
  * init over a whole parquet row-group, the same execution shape as
  * `mapInPandas` batches in the PySpark deployment of this pattern.
  */
object Multimodal {

  /** Pure-JVM image header parser: container format + dimensions straight
    * from the magic bytes, no image library. Covers the three containers a
    * web-scraped corpus is overwhelmingly made of: PNG (IHDR is mandated to
    * be the first chunk — width/height big-endian at offsets 16/20), JPEG
    * (walk the FF-marker segment chain to the first frame header SOFn,
    * n ∉ {4,8,12}; height/width big-endian inside it), GIF87a/89a (logical
    * screen size little-endian at offset 6). Returns None for anything
    * unrecognized or truncated — callers fall back, never throw. */
  object HeaderCodec {
    private def u8(p: Array[Byte], i: Int): Int = p(i) & 0xFF
    private def be16(p: Array[Byte], i: Int): Int = (u8(p, i) << 8) | u8(p, i + 1)
    private def be32(p: Array[Byte], i: Int): Int =
      (u8(p, i) << 24) | (u8(p, i + 1) << 16) | (u8(p, i + 2) << 8) | u8(p, i + 3)
    private def le16(p: Array[Byte], i: Int): Int = u8(p, i) | (u8(p, i + 1) << 8)

    /** (mime, width, height) if the payload starts with a known image
      * container's magic and carries a complete size header. */
    def imageDims(p: Array[Byte]): Option[(String, Int, Int)] =
      if (p.length >= 24 && u8(p, 0) == 0x89 && p(1) == 'P' && p(2) == 'N' &&
          p(3) == 'G' && u8(p, 4) == 0x0D && u8(p, 5) == 0x0A &&
          u8(p, 6) == 0x1A && u8(p, 7) == 0x0A && p(12) == 'I' &&
          p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
        val (w, h) = (be32(p, 16), be32(p, 20))
        if (w > 0 && h > 0) Some(("image/png", w, h)) else None
      } else if (p.length >= 4 && u8(p, 0) == 0xFF && u8(p, 1) == 0xD8) {
        jpegDims(p).map { case (w, h) => ("image/jpeg", w, h) }
      } else if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
                 p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') {
        val (w, h) = (le16(p, 6), le16(p, 8))
        if (w > 0 && h > 0) Some(("image/gif", w, h)) else None
      } else None

    private def le32(p: Array[Byte], i: Int): Long =
      (u8(p, i).toLong) | (u8(p, i + 1).toLong << 8) |
        (u8(p, i + 2).toLong << 16) | (u8(p, i + 3).toLong << 24)

    /** (sampleRate, channels, durationMs) if the payload is a complete
      * RIFF/WAVE container: walk the word-aligned chunk chain (tolerating
      * extra chunks — LIST/INFO metadata before fmt/data is common in the
      * wild) to the `fmt ` chunk (channels, sample rate, byte rate — all
      * little-endian, per the public RIFF spec) and the `data` chunk,
      * whose size over the byte rate is the duration. None — callers fall
      * back, never throw — for a missing/zero-field fmt, a data chunk
      * whose claimed size overruns the payload (truncation), or any
      * non-WAV bytes; mirrors the image branches' positive-dims guard. */
    def wavInfo(p: Array[Byte]): Option[(Int, Int, Long)] = {
      if (p.length < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
          p(3) != 'F' || p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
        return None
      var i = 12
      var sampleRate = 0L; var channels = 0; var byteRate = 0L
      var dataSize = -1L
      while (i + 8 <= p.length) {
        val size = le32(p, i + 4)
        val isFmt = p(i) == 'f' && p(i + 1) == 'm' && p(i + 2) == 't' && p(i + 3) == ' '
        val isData = p(i) == 'd' && p(i + 1) == 'a' && p(i + 2) == 't' && p(i + 3) == 'a'
        if (i + 8 + size > p.length) return None // truncated chunk
        if (isFmt && size >= 16) {
          channels = le16(p, i + 10)
          sampleRate = le32(p, i + 12)
          byteRate = le32(p, i + 16)
        } else if (isData) dataSize = size
        i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      if (sampleRate > 0 && channels > 0 && byteRate > 0 && dataSize >= 0)
        Some((sampleRate.toInt, channels, dataSize * 1000L / byteRate))
      else None
    }

    /** Wrap raw bytes as canonical 44-byte-header PCM WAV — the
      * deterministic inverse of [[wavInfo]] (header fields it parses are
      * exactly the ones written), used to exercise the parser on real
      * container bytes built from any binary column. */
    def wavWrap(data: Array[Byte], sampleRate: Int, channels: Int,
                bitsPerSample: Int): Array[Byte] = {
      val byteRate = sampleRate * channels * bitsPerSample / 8
      val blockAlign = channels * bitsPerSample / 8
      val b = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort)
        .putInt(sampleRate).putInt(byteRate)
        .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      b.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      b.array()
    }

    private def be32L(p: Array[Byte], i: Int): Long =
      (u8(p, i).toLong << 24) | (u8(p, i + 1).toLong << 16) |
        (u8(p, i + 2).toLong << 8) | u8(p, i + 3).toLong
    private def fourCC(p: Array[Byte], i: Int, cc: String): Boolean =
      p(i) == cc(0) && p(i + 1) == cc(1) && p(i + 2) == cc(2) && p(i + 3) == cc(3)

    /** (width, height, durationMs) if the payload is an ISO BMFF (MP4)
      * container: walk the top-level box chain to `moov`, read the movie
      * duration from `mvhd` (duration ÷ timescale; version 0 = 32-bit
      * fields, version 1 = 64-bit, per ISO/IEC 14496-12) and the
      * presentation size from the first `tkhd` with positive dimensions
      * (16.16 fixed point; audio tracks carry 0×0 and are skipped).
      * None for truncated boxes, zero timescale, or no video track —
      * callers fall back, never throw. */
    def mp4Info(p: Array[Byte]): Option[(Int, Int, Long)] = {
      // a well-formed file opens with a box whose type is a known brand
      // carrier; requiring ftyp/moov/mdat first rejects arbitrary binaries
      if (p.length < 16 ||
          !(fourCC(p, 4, "ftyp") || fourCC(p, 4, "moov") || fourCC(p, 4, "mdat")))
        return None
      def walk(from: Int, until: Int, name: String): Option[(Int, Int)] = {
        var i = from
        while (i + 8 <= until) {
          val size = be32L(p, i)
          if (size < 8 || i + size > until) return None // malformed/truncated
          if (fourCC(p, i + 4, name)) return Some((i + 8, (i + size).toInt))
          i += size.toInt
        }
        None
      }
      walk(0, p.length, "moov").flatMap { case (mS, mE) =>
        val dur = walk(mS, mE, "mvhd").flatMap { case (h, hE) =>
          if (h >= hE) None
          else u8(p, h) match { // version byte of the full box
            case 0 if h + 20 <= hE =>
              val ts = be32L(p, h + 12); val d = be32L(p, h + 16)
              if (ts > 0) Some(d * 1000L / ts) else None
            case 1 if h + 32 <= hE =>
              val ts = be32L(p, h + 20)
              val d = (be32L(p, h + 24) << 32) | be32L(p, h + 28)
              if (ts > 0) Some(d * 1000L / ts) else None
            case _ => None
          }
        }
        // first trak whose tkhd has positive 16.16 dims = the video track
        def firstVideoDims(from: Int): Option[(Int, Int)] = {
          var i = from
          while (i + 8 <= mE) {
            val size = be32L(p, i)
            if (size < 8 || i + size > mE) return None
            if (fourCC(p, i + 4, "trak")) {
              val wh = walk(i + 8, (i + size).toInt, "tkhd").flatMap { case (h, hE) =>
                // unknown tkhd version ⇒ skip THIS trak (like a missing
                // tkhd), don't abort the scan — a later well-formed video
                // trak must still be found
                val off = u8(p, h) match {
                  case 0 => Some(h + 76) // 4 ver/flags + 20 times/id + 8 rsvd + 8 layer.. + 36 matrix
                  case 1 => Some(h + 88) // 64-bit creation/modification/duration
                  case _ => None
                }
                off.filter(_ + 8 <= hE).flatMap { o =>
                  val w = (be32L(p, o) >> 16).toInt
                  val hgt = (be32L(p, o + 4) >> 16).toInt
                  if (w > 0 && hgt > 0) Some((w, hgt)) else None
                }
              }
              if (wh.isDefined) return wh
            }
            i += size.toInt
          }
          None
        }
        for (d <- dur; (w, h) <- firstVideoDims(mS)) yield (w, h, d)
      }
    }

    /** Wrap raw bytes as a minimal ISO BMFF container (ftyp + moov holding
      * mvhd and one video trak's tkhd + the bytes as mdat) — the
      * deterministic inverse of [[mp4Info]], analogous to [[wavWrap]]. */
    def mp4Wrap(data: Array[Byte], width: Int, height: Int,
                durationMs: Long): Array[Byte] = {
      val timescale = 1000 // units per second: durations in ms
      val b = java.nio.ByteBuffer.allocate(16 + 216 + 8 + data.length) // big-endian default
      b.putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0)
      b.putInt(216).put("moov".getBytes("US-ASCII"))
      b.putInt(108).put("mvhd".getBytes("US-ASCII")).putInt(0) // v0, flags 0
        .putInt(0).putInt(0)                                   // creation, modification
        .putInt(timescale).putInt((durationMs * timescale / 1000L).toInt)
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, volume, rsvd
        .putLong(0)                                            // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000) // unity matrix
        .foreach(b.putInt)
      (0 until 6).foreach(_ => b.putInt(0))                    // pre_defined
      // ISO/IEC 14496-12 §8.2.2: next_track_ID is an id NOT yet in use —
      // the single trak below takes track_ID 1, so the next free id is 2
      // (external muxers validate this; mp4Info itself ignores the field)
      b.putInt(2)                                              // next_track_ID
      b.putInt(100).put("trak".getBytes("US-ASCII"))
      b.putInt(92).put("tkhd".getBytes("US-ASCII")).putInt(0)  // v0, flags 0
        .putInt(0).putInt(0).putInt(1).putInt(0)               // times, track_ID, rsvd
        .putInt((durationMs * timescale / 1000L).toInt)
        .putLong(0)                                            // reserved
        .putShort(0).putShort(0).putShort(0).putShort(0)       // layer..volume+rsvd
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt)
      b.putInt(width << 16).putInt(height << 16)               // 16.16 fixed
      b.putInt(8 + data.length).put("mdat".getBytes("US-ASCII")).put(data)
      b.array()
    }

    private def jpegDims(p: Array[Byte]): Option[(Int, Int)] = {
      var i = 2
      while (i + 3 < p.length) {
        if (u8(p, i) != 0xFF) return None // lost marker sync
        val marker = u8(p, i + 1)
        if (marker == 0xFF) i += 1 // fill byte
        else if ((marker >= 0xD0 && marker <= 0xD9) || marker == 0x01) i += 2 // standalone
        else {
          val len = be16(p, i + 2)
          if (len < 2) return None
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof) {
            if (i + 8 >= p.length) return None // truncated frame header
            val (w, h) = (be16(p, i + 7), be16(p, i + 5))
            // height 0 is legal SOF (DNL-deferred height) — treat as
            // unparseable like the PNG/GIF zero-dim guard, fall back to codec
            return if (w > 0 && h > 0) Some((w, h)) else None
          }
          i += 2 + len
        }
      }
      None
    }
  }

  /** Typed metadata carried next to every payload. */
  val mediaMeta: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType),
  ))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", mediaMeta),
  ))

  /** Deterministic fake codec: "decodes" a payload into (width, height) and a
    * fixed-length feature vector derived from payload bytes. Replace with a
    * real decoder in production — the signature is the contract. */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(payload)
      (64 + math.floorMod(h, 512), 64 + math.floorMod(h * 7, 512))
    }
    def features(payload: Array[Byte], dim: Int = 8): Array[Float] = {
      // integer byte sums per slot, one float division at the end: exact and
      // order-independent, so an external engine reproduces it bit-for-bit
      // (float accumulation would be accumulation-order-dependent)
      val sums = new Array[Long](dim)
      var i = 0
      while (i < payload.length) { sums(i % dim) += (payload(i) & 0xFF); i += 1 }
      sums.map(s => (s / 255.0).toFloat)
    }
  }

  /** Wrap a table with a string/blob column into the media schema. */
  def toMedia(df: DataFrame, idCol: String, payloadCol: String,
              mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"))
      .withColumn("meta", struct(
        lit(mime).as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        octet_length(col("payload")).cast("long").as("n_bytes")))

  /** Decode pass: fills width/height + emits a feature vector, one codec
    * instance per partition — a typed `Dataset.mapPartitions` (the Scala
    * analog of `mapInPandas` batches: Encoders serialize straight between
    * Tungsten rows and JVM primitives, no Row-object round trip).
    *
    * Dispatch: a payload whose magic bytes parse as PNG/JPEG/GIF gets its
    * REAL header dimensions and detected mime ([[HeaderCodec]]); anything
    * else keeps the declared mime and the deterministic [[FakeCodec]]
    * dims — which is why q35 (text payloads) stays oracle-replayable while
    * real image bytes are decoded for real (spec-pinned on hand-built
    * PNG/JPEG/GIF fixtures). */
  def decodeAndFeaturize(media: DataFrame, dim: Int = 8): DataFrame = {
    import media.sparkSession.implicits._
    media
      .select(col("media_id"), col("payload"), col("meta.mime"), col("meta.n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { it =>
        // per-partition codec init would go here
        it.map { case (id, payload, mime, nBytes) =>
          val (mm, w, h) = HeaderCodec.imageDims(payload)
            .orElse(HeaderCodec.mp4Info(payload).map { case (vw, vh, _) => ("video/mp4", vw, vh) })
            .getOrElse {
              val (fw, fh) = FakeCodec.decode(payload)
              (mime, fw, fh)
            }
          (id, payload, mm, w, h, nBytes, FakeCodec.features(payload, dim))
        }
      }
      .toDF("media_id", "payload", "mime", "w", "h", "n_bytes", "features")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), col("w").as("width"), col("h").as("height"),
          col("n_bytes")).as("meta"),
        col("features"))
  }

  /** Wrap every payload as canonical PCM WAV (header around the raw bytes
    * as the data chunk) — the deterministic audio-ingest twin of
    * [[toMedia]], so the WAV parser runs against real container bytes in
    * any pipeline test or backfill. Same `mapPartitions` batch shape as
    * the decode pass. */
  def wrapPcm(media: DataFrame, sampleRate: Int = 16000, channels: Int = 1,
              bitsPerSample: Int = 16): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, data) =>
        (id, HeaderCodec.wavWrap(data, sampleRate, channels, bitsPerSample))
      })
      .toDF("media_id", "payload")
      .withColumn("meta", struct(
        lit("audio/wav").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        octet_length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Audio metadata pass: parse each payload's RIFF/WAVE header into
    * (sample_rate, channels, duration_ms) — real fields from real
    * container bytes, like the image decode pass; non-WAV payloads keep
    * their declared mime with null audio fields (the fall-back seam where
    * an MP3/FLAC/OGG parser or a full decoder library would slot in).
    * Same per-partition batch shape as [[decodeAndFeaturize]]. */
  def describeAudio(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media
      .select(col("media_id"), col("payload"), col("meta.mime"), col("meta.n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions(_.map { case (id, p, mime, nBytes) =>
        HeaderCodec.wavInfo(p) match {
          case Some((sr, ch, ms)) =>
            (id, "audio/wav", Option(sr), Option(ch), Option(ms), nBytes)
          case None =>
            (id, mime, Option.empty[Int], Option.empty[Int], Option.empty[Long], nBytes)
        }
      })
      .toDF("media_id", "mime", "sample_rate", "channels", "duration_ms", "n_bytes")
  }

  /** Wrap every payload as a minimal MP4 (the bytes as mdat, declared
    * presentation size, a duration of one ms per payload byte) — the
    * video-ingest twin of
    * [[wrapPcm]], exercising the ISO BMFF parser on real container
    * bytes. */
  def wrapMp4(media: DataFrame, width: Int = 640, height: Int = 360): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, data) =>
        (id, HeaderCodec.mp4Wrap(data, width, height, data.length.toLong))
      })
      .toDF("media_id", "payload")
      .withColumn("meta", struct(
        lit("video/mp4").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        octet_length(col("payload")).cast("long").as("n_bytes")))
  }

  /** Video metadata pass: parse each payload's ISO BMFF boxes into
    * (width, height, duration_ms) — the video sibling of
    * [[describeAudio]]; non-MP4 payloads keep their declared mime with
    * null video fields. */
  def describeVideo(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media
      .select(col("media_id"), col("payload"), col("meta.mime"), col("meta.n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions(_.map { case (id, p, mime, nBytes) =>
        HeaderCodec.mp4Info(p) match {
          case Some((w, h, ms)) =>
            (id, "video/mp4", Option(w), Option(h), Option(ms), nBytes)
          case None =>
            (id, mime, Option.empty[Int], Option.empty[Int], Option.empty[Long], nBytes)
        }
      })
      .toDF("media_id", "mime", "width", "height", "duration_ms", "n_bytes")
  }
}
