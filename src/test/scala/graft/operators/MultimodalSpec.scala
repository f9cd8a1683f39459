package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.toMedia(
    spark.read.parquet(s"$sf/documents.parquet").limit(50),
    "doc_id", "text", "text/plain").cache()

  test("media schema: binary payload + typed metadata struct") {
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "payload", "meta"))
    assert(media.schema("payload").dataType.typeName === "binary")
    val m = media.select("meta.n_bytes", "meta.mime").collect()
    assert(m.forall(r => r.getLong(0) > 0 && r.getString(1) == "text/plain"))
  }

  test("decode pass fills dimensions and emits fixed-dim features per row") {
    val out = Multimodal.decodeAndFeaturize(media, dim = 8)
    assert(out.count() === 50)
    val r = out.select("meta.width", "meta.height", "features").collect()
    assert(r.forall(_.getInt(0) >= 64))
    assert(r.forall(_.getSeq[Float](2).length === 8))
  }

  test("decode is deterministic") {
    val a = Multimodal.decodeAndFeaturize(media).select("media_id", "meta.width")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = Multimodal.decodeAndFeaturize(media).select("media_id", "meta.width")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a === b)
  }

  test("header codec: PNG/JPEG/GIF dims parsed from hand-built magic bytes; text falls back") {
    import spark.implicits._
    // PNG: signature + IHDR-first chunk, 640×480 big-endian at offsets 16/20
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, // signature
      0x00, 0x00, 0x00, 0x0D, 'I', 'H', 'D', 'R',  // IHDR length + type
      0x00, 0x00, 0x02, 0x80,                      // width  = 640
      0x00, 0x00, 0x01, 0xE0,                      // height = 480
      0x08, 0x06, 0x00, 0x00, 0x00).map(_.toByte)
    // JPEG: SOI, APP0 (skipped by the segment walk), SOF0 with 33×44
    val jpeg = Array[Int](
      0xFF, 0xD8,                                  // SOI
      0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46,          // APP0, len 4
      0xFF, 0xC0, 0x00, 0x0B, 0x08,                // SOF0, len 11, precision
      0x00, 0x21,                                  // height = 33
      0x00, 0x2C,                                  // width  = 44
      0x01, 0x01, 0x11, 0x00,                      // 1 component
      0xFF, 0xD9).map(_.toByte)                    // EOI
    // GIF89a: logical screen 12×34 little-endian at offset 6
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x0C, 0x00, 0x22, 0x00, 0x00, 0x00, 0x00).map(_.toByte))
    assert(Multimodal.HeaderCodec.imageDims(png) === Some(("image/png", 640, 480)))
    assert(Multimodal.HeaderCodec.imageDims(jpeg) === Some(("image/jpeg", 44, 33)))
    assert(Multimodal.HeaderCodec.imageDims(gif) === Some(("image/gif", 12, 34)))
    assert(Multimodal.HeaderCodec.imageDims("plain text".getBytes) === None)
    assert(Multimodal.HeaderCodec.imageDims(png.take(20)) === None, "truncated header")
    // end to end: the decode pass uses the REAL dims + detected mime for
    // image payloads and the deterministic fake + declared mime otherwise
    val df = Seq((1L, png), (2L, jpeg), (3L, gif),
        (4L, "plain text".getBytes)).toDF("id", "blob")
    val out = Multimodal.decodeAndFeaturize(
        Multimodal.toMedia(df, "id", "blob", "application/octet-stream"))
      .select(col("media_id"), col("meta.mime"), col("meta.width"), col("meta.height"))
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "image/png", 640, 480)))
    assert(out(2L) === ((2L, "image/jpeg", 44, 33)))
    assert(out(3L) === ((3L, "image/gif", 12, 34)))
    val (fw, fh) = Multimodal.FakeCodec.decode("plain text".getBytes)
    assert(out(4L) === ((4L, "application/octet-stream", fw, fh)))
  }

  test("wav codec: RIFF header round trip, chunk-walk tolerance, truncation guards") {
    import spark.implicits._
    val pcm = Array.tabulate(64000)(i => (i % 251).toByte) // 2 s at 32 kB/s
    val wav = Multimodal.HeaderCodec.wavWrap(pcm, 16000, 1, 16)
    assert(wav.length === 44 + 64000)
    assert(Multimodal.HeaderCodec.wavInfo(wav) === Some((16000, 1, 2000L)))
    // stereo 8-bit: byte rate 88200*2 — 1s of data
    val st = Multimodal.HeaderCodec.wavWrap(Array.fill(44100 * 2)(0x7F.toByte), 44100, 2, 8)
    assert(Multimodal.HeaderCodec.wavInfo(st) === Some((44100, 2, 1000L)))
    // an extra LIST chunk between fmt and data must be walked over
    val withList = {
      val b = java.nio.ByteBuffer.allocate(wav.length + 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(wav, 0, 36)                              // RIFF..fmt chunk
      b.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("INFO".getBytes("US-ASCII"))            // 12-byte metadata chunk
      b.put(wav, 36, wav.length - 36)                // data chunk
      b.array()
    }
    assert(Multimodal.HeaderCodec.wavInfo(withList) === Some((16000, 1, 2000L)))
    // guards: truncated data chunk, zero rate, non-WAV bytes
    assert(Multimodal.HeaderCodec.wavInfo(wav.take(1000)) === None, "truncated")
    assert(Multimodal.HeaderCodec.wavInfo(
      Multimodal.HeaderCodec.wavWrap(Array[Byte](1, 2), 0, 1, 16)) === None, "zero rate")
    assert(Multimodal.HeaderCodec.wavInfo("plain text not a wav".getBytes) === None)
    // empty payload is a legal zero-length recording
    assert(Multimodal.HeaderCodec.wavInfo(
      Multimodal.HeaderCodec.wavWrap(Array.empty[Byte], 16000, 1, 16)) === Some((16000, 1, 0L)))
    // end to end: wrap + describe over a DataFrame; non-wav keeps declared
    // mime with null audio fields
    val df = Seq((1L, "hello world".getBytes)).toDF("id", "blob")
    val wrapped = Multimodal.wrapPcm(
      Multimodal.toMedia(df, "id", "blob", "application/octet-stream"))
    val described = Multimodal.describeAudio(wrapped)
      .as[(Long, String, Option[Int], Option[Int], Option[Long], Long)].collect()
    assert(described.toSeq === Seq(
      (1L, "audio/wav", Some(16000), Some(1), Some(11L * 1000 / 32000), 44L + 11)))
    val plain = Multimodal.describeAudio(
        Multimodal.toMedia(df, "id", "blob", "text/plain"))
      .as[(Long, String, Option[Int], Option[Int], Option[Long], Long)].collect()
    assert(plain.toSeq === Seq((1L, "text/plain", None, None, None, 11L)))
  }

  test("mp4 codec: box-walk round trip, audio-track skip, truncation guards, decode-pass dispatch") {
    import spark.implicits._
    val payload = Array.tabulate(5000)(i => (i % 97).toByte)
    val mp4 = Multimodal.HeaderCodec.mp4Wrap(payload, 1280, 720, 42000L)
    assert(mp4.length === 240 + 5000)
    assert(Multimodal.HeaderCodec.mp4Info(mp4) === Some((1280, 720, 42000L)))
    // a zero-dim (audio-shaped) track wrapped first must be skipped — build
    // a moov with an audio tkhd (0×0) followed by the video trak by
    // splicing: wrap with 0×0 then assert no dims found (all tracks audio)
    val audioOnly = Multimodal.HeaderCodec.mp4Wrap(payload, 0, 0, 42000L)
    assert(Multimodal.HeaderCodec.mp4Info(audioOnly) === None,
      "a container with no positive-dim track has no video metadata")
    // guards: truncated boxes, non-MP4 bytes, zero timescale impossible via wrap
    assert(Multimodal.HeaderCodec.mp4Info(mp4.take(100)) === None, "truncated moov")
    assert(Multimodal.HeaderCodec.mp4Info("not an mp4 container".getBytes) === None)
    assert(Multimodal.HeaderCodec.mp4Info(mp4.take(20)) === None, "ftyp only")
    // empty payload: zero-length mdat, zero duration is legal
    assert(Multimodal.HeaderCodec.mp4Info(
      Multimodal.HeaderCodec.mp4Wrap(Array.empty[Byte], 64, 64, 0L)) === Some((64, 64, 0L)))
    // a malformed FIRST trak (unknown tkhd version byte) must be skipped,
    // not abort the scan — the valid video trak behind it is still found.
    // Splice: ftyp + moov[mvhd + corruptTrak + goodTrak] + mdat
    val src = Multimodal.HeaderCodec.mp4Wrap(Array[Byte](1, 2, 3), 320, 240, 7000L)
    val ftyp = src.slice(0, 16); val mvhd = src.slice(24, 132)
    val trak = src.slice(132, 232); val mdat = src.slice(232, src.length)
    val corrupt = trak.clone(); corrupt(16) = 2 // tkhd version byte
    val spliced = java.nio.ByteBuffer.allocate(16 + 8 + 308 + mdat.length)
    spliced.put(ftyp).putInt(8 + 108 + 100 + 100).put("moov".getBytes("US-ASCII"))
      .put(mvhd).put(corrupt).put(trak).put(mdat)
    assert(Multimodal.HeaderCodec.mp4Info(spliced.array()) === Some((320, 240, 7000L)),
      "a corrupt leading trak must not mask the valid video trak behind it")
    // end to end: describeVideo parses wrapped payloads; the image decode
    // pass detects the container and uses the real dims
    val df = Seq((1L, "hello world".getBytes)).toDF("id", "blob")
    val wrapped = Multimodal.wrapMp4(
      Multimodal.toMedia(df, "id", "blob", "application/octet-stream"))
    val described = Multimodal.describeVideo(wrapped)
      .as[(Long, String, Option[Int], Option[Int], Option[Long], Long)].collect()
    assert(described.toSeq === Seq(
      (1L, "video/mp4", Some(640), Some(360), Some(11L), 240L + 11)))
    val decoded = Multimodal.decodeAndFeaturize(wrapped)
      .select(col("media_id"), col("meta.mime"), col("meta.width"), col("meta.height"))
      .as[(Long, String, Int, Int)].collect()
    assert(decoded.toSeq === Seq((1L, "video/mp4", 640, 360)))
    val plain = Multimodal.describeVideo(
        Multimodal.toMedia(df, "id", "blob", "text/plain"))
      .as[(Long, String, Option[Int], Option[Int], Option[Long], Long)].collect()
    assert(plain.toSeq === Seq((1L, "text/plain", None, None, None, 11L)))
  }

  test("q88 multimodal mix: routing, corrupt-media gate, and metadata join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = graft.queries.Queries.q88_multimodal_mix(spark, sf).collect()
    // the corrupt gate drops EXACTLY the 8-byte-truncated payloads
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 7 != 0), "corrupt ids filtered")
    assert(rows.length === docs.where(pmod(col("doc_id"), lit(7)) =!= 0).count())
    // routing + per-kind metadata: audio has null dims and byte-rate
    // duration, video carries the declared 640x360 and ms-per-byte duration
    rows.foreach { r =>
      val (id, mime, dur) = (r.getLong(0), r.getString(1), r.getLong(4))
      if (id % 2 == 0) {
        assert(mime === "audio/wav" && r.isNullAt(2) && r.isNullAt(3))
      } else {
        assert(mime === "video/mp4" && r.getInt(2) === 640 && r.getInt(3) === 360)
        assert(dur >= 0)
      }
    }
    // join really is 1:1 onto the document relation
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
  }
}
