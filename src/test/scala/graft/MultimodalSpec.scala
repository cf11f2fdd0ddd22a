package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{ByteEmbedders, Multimodal}
import graft.util.TempDirs

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A real in-memory image, encoded with the same JRE codecs the
    * decode path reads back. */
  private def encodeImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos))
    bos.toByteArray
  }

  private lazy val pngBytes = encodeImage(7, 5, "png")

  private lazy val media = Seq(
    Multimodal.MediaRecord(1L, "image", pngBytes,
      Multimodal.MediaMeta(Some(7), Some(5), None, Some("png"))),
    Multimodal.MediaRecord(2L, "audio", ("pcm" * 100).getBytes("UTF-8"),
      Multimodal.MediaMeta(None, None, Some(16000), Some("wav"))),
    Multimodal.MediaRecord(3L, "video", ("frame" * 50).getBytes("UTF-8"),
      Multimodal.MediaMeta(Some(1920), Some(1080), None, Some("mp4")))
  ).toDS()

  test("media rows conform to mediaSchema") {
    val df = media.toDF()
    val expected = Multimodal.mediaSchema.fields.map(_.name).toSeq
    assert(df.columns.toSeq == expected)
    // parquet round-trip preserves binary + struct metadata
    val p = TempDirs.create("media").toString
    df.write.mode("overwrite").parquet(p)
    val back = spark.read.parquet(p)
    assert(back.count() == 3)
    assert(back.filter($"kind" === "audio").select($"meta.sample_rate")
      .collect().head.getInt(0) == 16000)
  }

  test("extractFeatures: deterministic, fixed shape, no shuffle") {
    val f1 = Multimodal.extractFeatures(spark, media).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(spark, media).collect()
      .sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.feature.length == 8))
    assert(f1.head.byte_len == pngBytes.length)
    val plan = Multimodal.extractFeatures(spark, media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("ByteEmbedder seam: a LEARNED linear head trained in-repo slots " +
      "behind extractFeatures without touching claimed decode paths") {
    // labeled corpus: ASCII text vs seeded pseudo-random binary — the
    // separation any bytes-only "is this text-like?" head must learn
    def textBytes(i: Int): Array[Byte] =
      (s"the quick brown fox $i jumps over the lazy dog, " * 8)
        .getBytes("UTF-8")
    def binBytes(i: Int): Array[Byte] = {
      val r = new scala.util.Random(i * 7919L + 13)
      val b = new Array[Byte](400); r.nextBytes(b); b
    }
    val labeled = ((0 until 40).map(i => (textBytes(i), 1)) ++
      (0 until 40).map(i => (binBytes(i), 0))).toDF("bytes", "label")
    val learned = ByteEmbedders.trainLinear(spark, labeled)
    // real learned weights separate HELD-OUT samples
    val pText = learned.embed(textBytes(999))(0)
    val pBin = learned.embed(binBytes(999))(0)
    assert(pText > 0.7 && pBin < 0.3, s"pText=$pText pBin=$pBin")

    // seam swap: default run = hash lane; learned run = learned lane —
    // ONLY on the unclaimed row (media_id 3: non-container "video"
    // bytes); the decoded image row is identical under both embedders
    val base = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    val swapped = Multimodal.extractFeatures(spark, media, learned)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    val vidBytes = ("frame" * 50).getBytes("UTF-8")
    assert(base(3L) == Multimodal.hashEmbedding(vidBytes).toSeq)
    assert(swapped(3L) == learned.embed(vidBytes).toSeq)
    assert(swapped(3L) != base(3L))
    assert(swapped(1L) == base(1L), "decoded image path must not change")
    // shape contract holds across lanes
    assert(swapped.values.forall(_.size == 8))
  }

  test("image and audio features are REAL content statistics") {
    // uniform mid-gray image → exact channel means, zero variance
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 8).foreach(x => (0 until 4).foreach(y =>
      img.setRGB(x, y, 0x808080)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.imageFeatures(bos.toByteArray).get
    val gray = (0x80 / 255.0).toFloat
    assert(math.abs(f(0) - gray) < 1e-6 && math.abs(f(1) - gray) < 1e-6 &&
      math.abs(f(2) - gray) < 1e-6, f.toSeq.toString)
    assert(f(4) < 1e-6, "uniform image has zero luminance variance")
    assert(math.abs(f(5) - 2.0f) < 1e-6, "aspect ratio 8/4")

    // constant-amplitude square wave → RMS = amplitude, ZCR ~ 1/period
    val af = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val frames = 1600
    val pcm = new Array[Byte](frames * af.getFrameSize)
    val bb = java.nio.ByteBuffer.wrap(pcm)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until frames).foreach(i =>
      bb.putShort(i * 2, (if ((i / 8) % 2 == 0) 16384 else -16384).toShort))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), af, frames.toLong)
    val wav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wav)
    val a = Multimodal.audioFeatures(wav.toByteArray).get
    assert(math.abs(a(0) - 0.5f) < 1e-3, s"RMS of ±0.5 square: ${a(0)}")
    assert(math.abs(a(1) - 0.5f) < 1e-3, s"mean |amplitude|: ${a(1)}")
    assert(math.abs(a(2) - 1.0f / 8) < 1e-2, s"zero-crossing rate: ${a(2)}")
    assert(math.abs(a(3) - 0.1f) < 1e-3, s"duration 1600/16000: ${a(3)}")
    assert(math.abs(a(4) - 16.0f) < 1e-6 && a(5) == 1.0f)

    // stereo: identical L/R must match the mono statistics (per-frame
    // downmix — raw interleaved samples would double the ZCR)
    val af2 = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val pcm2 = new Array[Byte](frames * af2.getFrameSize)
    val bb2 = java.nio.ByteBuffer.wrap(pcm2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until frames).foreach { i =>
      val v = (if ((i / 8) % 2 == 0) 16384 else -16384).toShort
      bb2.putShort(i * 4, v); bb2.putShort(i * 4 + 2, v)
    }
    val ais2 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm2), af2, frames.toLong)
    val wav2 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais2,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wav2)
    val st = Multimodal.audioFeatures(wav2.toByteArray).get
    assert(math.abs(st(0) - 0.5f) < 1e-3 && math.abs(st(2) - a(2)) < 1e-6,
      s"stereo stats must match mono downmix: ${st.toSeq}")
    assert(st(5) == 2.0f)

    // junk bytes fall back to the deterministic hash embedding
    val junk = "zzz".getBytes("UTF-8")
    assert(Multimodal.imageFeatures(junk).isEmpty)
    assert(Multimodal.audioFeatures(junk).isEmpty)
    assert(Multimodal.hashEmbedding(junk).length == 8)
  }

  test("resize composites alpha onto white and preserves the format") {
    // transparent ARGB PNG: after resize the transparent corner must
    // be WHITE, not black
    val argb = new java.awt.image.BufferedImage(20, 20,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    (10 until 20).foreach(x => (0 until 20).foreach(y =>
      argb.setRGB(x, y, 0xff000000 | 0x336699))) // right half opaque
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(argb, "png", bos)
    val outBytes = Seq((1L, bos.toByteArray)).toDF("id", "bytes")
      .select(Multimodal.resizeImage($"bytes", lit(10)).as("b"))
      .collect().head.getAs[Array[Byte]]("b")
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(outBytes))
    assert((out.getRGB(1, 5) & 0xffffff) == 0xffffff,
      "transparent pixels must composite to white")
    // JPEG in → JPEG out (a lossless PNG re-encode of a photo can
    // exceed the input size; format must be preserved)
    val jpg = encodeImage(40, 24, "jpg")
    val rz = Seq((2L, jpg)).toDF("id", "bytes")
      .select(Multimodal.resizeImage($"bytes", lit(10)).as("b"))
      .collect().head.getAs[Array[Byte]]("b")
    assert(rz(0) == 0xff.toByte && rz(1) == 0xd8.toByte,
      "JPEG magic must survive the resize")
  }

  test("decodeImage parses real PNG and JPEG headers via ImageIO") {
    val rows = Seq(
      (1L, encodeImage(7, 5, "png")),
      (2L, encodeImage(640, 480, "jpg")),
      (3L, "not an image at all".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "bytes")
      .select($"media_id", Multimodal.decodeImage($"bytes").as("d"))
      .orderBy("media_id").collect()
    val png = rows(0).getStruct(1)
    assert((png.getInt(0), png.getInt(1), png.getString(2))
      == ((7, 5, "png")))
    val jpg = rows(1).getStruct(1)
    assert((jpg.getInt(0), jpg.getInt(1), jpg.getString(2))
      == ((640, 480, "jpeg")))
    // garbage and null degrade to null, never throw
    assert(rows(2).isNullAt(1) && rows(3).isNullAt(1))
  }

  test("decodeAudio parses real WAV headers via javax.sound.sampled") {
    def wavBytes(rate: Float, channels: Int): Array[Byte] = {
      val af = new javax.sound.sampled.AudioFormat(rate, 16, channels,
        true, false)
      val frames = 800
      val pcm = new Array[Byte](frames * af.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), af, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, wavBytes(16000f, 1)),
      (2L, wavBytes(44100f, 2)),
      (3L, "definitely not audio".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
      .select($"media_id", Multimodal.decodeAudio($"bytes").as("d"))
      .orderBy("media_id").collect()
    val mono = rows(0).getStruct(1)
    assert((mono.getInt(0), mono.getInt(1), mono.getString(2))
      == ((16000, 1, "wave")))
    val stereo = rows(1).getStruct(1)
    assert((stereo.getInt(0), stereo.getInt(1)) == ((44100, 2)))
    assert(rows(2).isNullAt(1))
  }

  // --- minimal-but-valid MP4 construction (ISO-BMFF box grammar) ---
  private def u32be(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def mp4Box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length)
    bb.put(typ.getBytes("ISO-8859-1"))
    bb.put(payload)
    bb.array()
  }
  private def tkhdBox(w: Int, h: Int, duration: Int): Array[Byte] =
    mp4Box("tkhd",
      new Array[Byte](4) ++ u32be(0) ++ u32be(0) ++ u32be(1) ++
        u32be(0) ++ u32be(duration) ++
        new Array[Byte](8 + 2 + 2 + 2 + 2 + 36) ++
        u32be(w.toLong << 16) ++ u32be(h.toLong << 16))
  private def tkhdTrak(w: Int, h: Int, duration: Int): Array[Byte] =
    mp4Box("trak", tkhdBox(w, h, duration))

  /** A playable-shaped MP4 with a real sample table: `samples` laid
    * back-to-back in mdat, `stscEntries` (firstChunk 1-based,
    * samplesPerChunk) mapping chunks to samples, chunk c starting at
    * sample index `chunkFirstSample(c)`, optional stss sync list
    * (1-based sample numbers). */
  private def mp4WithSamples(samples: Seq[Array[Byte]],
      stscEntries: Seq[(Int, Int)], chunkFirstSample: Seq[Int],
      stss: Option[Seq[Int]], timescale: Int = 1000,
      duration: Int = 2500): Array[Byte] = {
    def full(t: String, p: Array[Byte]) =
      mp4Box(t, new Array[Byte](4) ++ p)
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("ISO-8859-1") ++ u32be(0x200) ++
        "isomiso2".getBytes("ISO-8859-1"))
    val mvhd = mp4Box("mvhd", new Array[Byte](4) ++ u32be(0) ++
      u32be(0) ++ u32be(timescale) ++ u32be(duration) ++
      new Array[Byte](80))
    val hdlr = full("hdlr",
      u32be(0) ++ "vide".getBytes("ISO-8859-1") ++ new Array[Byte](12))
    val stsz = full("stsz", u32be(0) ++ u32be(samples.length) ++
      samples.flatMap(s => u32be(s.length)))
    val stsc = full("stsc", u32be(stscEntries.length) ++
      stscEntries.flatMap { case (f, n) =>
        u32be(f) ++ u32be(n) ++ u32be(1) })
    val stssBox = stss.map(ss => full("stss",
      u32be(ss.length) ++ ss.flatMap(s => u32be(s))))
      .getOrElse(Array.empty[Byte])
    def moovWith(mdatStart: Int) = {
      val stco = full("stco", u32be(chunkFirstSample.length) ++
        chunkFirstSample.flatMap { fs =>
          u32be(mdatStart + samples.take(fs).map(_.length).sum) })
      val stbl = mp4Box("stbl", stsz ++ stsc ++ stco ++ stssBox)
      val trak = mp4Box("trak", tkhdBox(640, 360, duration) ++
        mp4Box("mdia", hdlr ++ mp4Box("minf", stbl)))
      mp4Box("moov", mvhd ++ trak)
    }
    // stco holds ABSOLUTE file offsets; the moov length is offset-value
    // independent, so probe with 0 then rebuild with the real start
    val mdatStart = ftyp.length + moovWith(0).length + 8
    ftyp ++ moovWith(mdatStart) ++
      mp4Box("mdat", samples.flatten.toArray)
  }
  private def mp4Bytes(w: Int, h: Int, timescale: Int, duration: Int,
      audioTrackFirst: Boolean = false): Array[Byte] = {
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("ISO-8859-1") ++ u32be(0x200) ++
        "isomiso2".getBytes("ISO-8859-1"))
    val mvhd = mp4Box("mvhd", new Array[Byte](4) ++ u32be(0) ++
      u32be(0) ++ u32be(timescale) ++ u32be(duration) ++
      new Array[Byte](80))
    val traks =
      (if (audioTrackFirst) tkhdTrak(0, 0, duration) else Array.empty[Byte]) ++
        tkhdTrak(w, h, duration)
    val moov = mp4Box("moov", mvhd ++ traks)
    val mdat = mp4Box("mdat", Array.fill[Byte](32)(1))
    ftyp ++ moov ++ mdat
  }

  test("decodeVideo parses MP4 moov/tkhd headers — pure JRE byte walk") {
    val rows = Seq(
      (1L, mp4Bytes(640, 360, 1000, 5500)),
      (2L, "definitely not a video".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "bytes")
      .select($"media_id", Multimodal.decodeVideo($"bytes").as("d"))
      .orderBy("media_id").collect()
    val d = rows(0).getStruct(1)
    assert((d.getInt(0), d.getInt(1)) == ((640, 360)))
    assert(math.abs(d.getDouble(2) - 5.5) < 1e-9) // 5500 / 1000 ticks
    assert(d.getString(3) == "isom")
    // garbage and null degrade to null, never throw
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
    // a 0x0 audio-only track ahead of the video track is skipped: dims
    // come from the first track with nonzero width/height
    val both = Multimodal.parseMp4(
      mp4Bytes(1920, 1080, 600, 1200, audioTrackFirst = true)).get
    assert((both.width, both.height) == ((Some(1920), Some(1080))))
    assert(both.duration_s.contains(2.0))
    // truncated header (cut mid-moov) parses to None, no exception
    val cut = mp4Bytes(640, 360, 1000, 5500).take(40)
    assert(Multimodal.parseMp4(cut).isEmpty)
  }

  test("mp4 frame extraction walks stsz/stsc/stco to exact byte " +
      "ranges; stss keyframes preferred; truncation degrades") {
    val samples = Seq(5, 7, 9, 11, 13).zipWithIndex.map {
      case (sz, i) => Array.fill[Byte](sz)(((i + 1) * 3).toByte) }
    // stsc: chunks 1-2 carry 2 samples each, chunk 3+ carries 1 →
    // chunk sample groups [0,1], [2,3], [4]
    val bytes = mp4WithSamples(samples, Seq((1, 2), (3, 1)),
      chunkFirstSample = Seq(0, 2, 4), stss = None)
    val st = Multimodal.mp4SampleTable(bytes).get
    assert(st.sizes.toSeq == Seq(5L, 7L, 9L, 11L, 13L))
    // offsets pack back-to-back across the chunk layout
    assert(st.offsets.toSeq ==
      Seq(0L, 5L, 12L, 21L, 32L).map(_ + st.offsets(0)))
    // every frame slice returns its exact mdat byte range
    val all = Multimodal.mp4FrameSlices(bytes, 10).get
    assert(all.length == 5)
    assert(all.zipWithIndex.forall { case (f, i) =>
      f.sameElements(samples(i)) })
    // even spacing: 2 of 5 → samples 0 and 2
    val two = Multimodal.mp4FrameSlices(bytes, 2).get
    assert(two(0).sameElements(samples(0)) &&
      two(1).sameElements(samples(2)))
    // stss declares keyframes → only sync samples (1 and 4, 1-based)
    val withSync = mp4WithSamples(samples, Seq((1, 2), (3, 1)),
      Seq(0, 2, 4), stss = Some(Seq(1, 4)))
    val kf = Multimodal.mp4FrameSlices(withSync, 4).get
    assert(kf.length == 2 && kf(0).sameElements(samples(0)) &&
      kf(1).sameElements(samples(3)))
    // truncated mid-mdat: out-of-range samples are skipped, the
    // well-formed prefix survives — never a throw
    val cut = bytes.take(bytes.length - 13)
    assert(Multimodal.mp4FrameSlices(cut, 10).get.length == 4)
    assert(Multimodal.mp4FrameSlices(
      "not a video".getBytes("UTF-8"), 3).isEmpty)
    // the sampleFrames UDF routes MP4 bytes through the demux path
    val viaUdf = Seq((1L, bytes)).toDF("id", "bytes")
      .select(Multimodal.sampleFrames($"bytes", lit(3)).as("f"))
      .as[Seq[Array[Byte]]].head()
    assert(viaUdf.length == 3 && viaUdf.head.sameElements(samples(0)))
    // container features: fps = 5 frames / 2.5 s, keyframe ratio
    val feats = Multimodal.mp4Features(bytes).get
    assert(feats(2) == 2.5f && feats(3) == 2.0f && feats(5) == 1.0f)
    assert(Multimodal.mp4Features(withSync).get(5) == 0.4f)
  }

  test("Motion-JPEG MP4 frames decode to REAL pixels (stsd jpeg)") {
    val id = 7L
    val bytes = graft.queries.ExtensionQueries.syntheticMjpegMp4(id)
    // the sample-table walk surfaces the stsd codec fourcc
    assert(Multimodal.mp4SampleTable(bytes).get.codec.contains("jpeg"))
    val frames = Multimodal.mp4DecodedFrames(bytes, 8).get
    val k = (2 + id % 3).toInt
    assert(frames.length == k)
    // frame-exact dimensions come from the DECODED pixels
    val w = (16 + 8 * (id % 4)).toInt
    val h = (16 + 8 * ((id + 1) % 3)).toInt
    assert(frames.forall(f => f.getWidth == w && f.getHeight == h))
    // decoded mean luminance within ±2 of each frame's encoded solid
    // tone — pixel decode, not container metadata
    frames.zipWithIndex.foreach { case (f, i) =>
      val g = (16 + 32 * ((id + i) % 6)).toInt
      val lum = Multimodal.imageFeaturesOf(f).get(3) * 255.0
      assert(math.abs(lum - g) <= 2.0, s"frame $i lum $lum vs $g")
    }
    // the video feature path serves pixel features for MJPEG: the
    // aspect slot comes from decoded frames, not tkhd metadata
    val feat = Multimodal.mjpegFrameFeatures(bytes).get
    assert(math.abs(feat(5) - w.toFloat / h) < 1e-6)
    // non-MJPEG sample tables refuse pixel decode (fall back to
    // container features), and a corrupted mdat degrades, never throws
    assert(Multimodal.mp4DecodedFrames(
      graft.queries.ExtensionQueries.syntheticMp4(id), 4).isEmpty)
    val corrupt = bytes.clone()
    val mdatAt = bytes.length - samplesLen(bytes, k)
    java.util.Arrays.fill(corrupt, mdatAt, bytes.length, 0.toByte)
    assert(Multimodal.mp4DecodedFrames(corrupt, 4).isEmpty)
  }

  /** total sample bytes of an MJPEG fixture (= mdat payload size). */
  private def samplesLen(bytes: Array[Byte], k: Int): Int =
    Multimodal.mp4SampleTable(bytes).get.sizes.map(_.toInt).sum

  test("decode/resize/frame-sample keep the pipeline contracts") {
    val decoded = Multimodal.withDecodedMeta(media.toDF())
    val img = decoded.filter($"kind" === "image").select($"decoded")
      .collect().head
    assert(!img.isNullAt(0), "image rows must decode")
    assert(img.getStruct(0).getInt(0) == 7, "decoded width from header")
    assert(decoded.filter($"kind" === "audio").select($"decoded")
      .collect().head.isNullAt(0), "non-images skip decode")

    // REAL resize: a 40×24 PNG capped at longest-side 10 comes back as
    // a decodable 10×6 image; the aspect ratio survives the rounding
    val big = encodeImage(40, 24, "png")
    val resized = Seq((1L, big)).toDF("media_id", "bytes")
      .select(Multimodal.resizeImage($"bytes", lit(10)).as("small"))
      .collect().head.getAs[Array[Byte]]("small")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized))
    assert((back.getWidth, back.getHeight) == ((10, 6)), "bilinear cap")
    // already-small images pass through byte-identical (no re-encode)
    val small = Seq((2L, pngBytes)).toDF("media_id", "bytes")
      .select(Multimodal.resizeImage($"bytes", lit(100)).as("same"))
      .collect().head.getAs[Array[Byte]]("same")
    assert(small.sameElements(pngBytes))
    // non-image bytes degrade to null, not an exception
    val junk = Seq((3L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
      .select(Multimodal.resizeImage($"bytes", lit(10)).as("x"))
      .collect().head
    assert(junk.isNullAt(0))

    // non-GIF video bytes take the documented STUB slice path
    val frames = media.toDF().filter($"kind" === "video")
      .select(Multimodal.sampleFrames($"bytes", lit(5)).as("frames"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(frames.length == 5)
  }

  /** A real multi-frame animated GIF written with the JRE's own GIF
    * writer sequence API — the fixture for the REAL video-frame path. */
  private def animatedGif(colors: Seq[Int], w: Int, h: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try { g.setColor(new java.awt.Color(c)); g.fillRect(0, 0, w, h) }
        finally g.dispose()
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** A GIF whose logical screen (16×16) is larger than frame 0 (an
    * 8×8 red patch at the origin) and whose second frame is an 8×8
    * green DELTA at offset (8,8) — the shape that exposed canvas
    * sizing from frame 0 instead of the LogicalScreenDescriptor
    * (frame 1 then landed entirely off-canvas and was clipped away). */
  private def deltaGif(): Array[Byte] = {
    def solid(w: Int, h: Int, c: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(c)); g.fillRect(0, 0, w, h) }
      finally g.dispose()
      img
    }
    def node(meta: javax.imageio.metadata.IIOMetadata, fmt: String,
        name: String): (org.w3c.dom.Node, javax.imageio.metadata.IIOMetadataNode) = {
      val root = meta.getAsTree(fmt)
      val kids = root.getChildNodes
      var j = 0
      while (j < kids.getLength && kids.item(j).getNodeName != name) j += 1
      (root, kids.item(j).asInstanceOf[javax.imageio.metadata.IIOMetadataNode])
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val f0 = solid(8, 8, 0xff0000)
      val typ = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(f0)
      val stream = writer.getDefaultStreamMetadata(null)
      val (sroot, lsd) =
        node(stream, "javax_imageio_gif_stream_1.0", "LogicalScreenDescriptor")
      lsd.setAttribute("logicalScreenWidth", "16")
      lsd.setAttribute("logicalScreenHeight", "16")
      stream.setFromTree("javax_imageio_gif_stream_1.0", sroot)
      writer.prepareWriteSequence(stream)
      writer.writeToSequence(new javax.imageio.IIOImage(f0, null, null), null)
      val meta1 = writer.getDefaultImageMetadata(typ, null)
      val (iroot, desc) =
        node(meta1, "javax_imageio_gif_image_1.0", "ImageDescriptor")
      desc.setAttribute("imageLeftPosition", "8")
      desc.setAttribute("imageTopPosition", "8")
      meta1.setFromTree("javax_imageio_gif_image_1.0", iroot)
      writer.writeToSequence(
        new javax.imageio.IIOImage(solid(8, 8, 0x00ff00), null, meta1), null)
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("GIF canvas follows the logical screen, not frame 0 — offset " +
      "delta frames composite instead of clipping") {
    val frames = Multimodal.gifFrames(deltaGif(), 2).get
    assert(frames.size == 2)
    assert(frames(0).getWidth == 16 && frames(0).getHeight == 16)
    // frame 0 snapshot: red patch top-left, white elsewhere
    val fs0 = Multimodal.imageFeaturesOf(frames(0)).get
    assert(fs0(1) > 0.5, s"white background should dominate green: $fs0")
    // frame 1 snapshot: the green delta at (8,8) must be VISIBLE —
    // a frame-0-sized canvas clipped it to nothing
    val g1 = frames(1).getRGB(12, 12)
    assert((g1 & 0x00ff00) == 0x00ff00 && (g1 & 0xff0000) == 0,
      f"pixel at (12,12) should be the composited green delta: $g1%06x")
    val r1 = frames(1).getRGB(2, 2)
    assert((r1 & 0xff0000) == 0xff0000, f"red frame 0 survives: $r1%06x")
  }

  test("animated GIF frames decode for REAL: per-frame features + video path") {
    val gif = animatedGif(Seq(0xff0000, 0x00ff00, 0x0000ff), 16, 16)
    // sampleFrames takes the real multi-frame path for GIF bytes:
    // three decodable PNG frames, one per GIF frame
    val frames = Seq((1L, gif)).toDF("media_id", "bytes")
      .select(Multimodal.sampleFrames($"bytes", lit(3)).as("frames"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(frames.length == 3)
    // per-frame features recover each frame's dominant channel
    val feats = frames.map(f => Multimodal.imageFeatures(f).get)
    assert(feats(0)(0) > 0.9 && feats(0)(1) < 0.1 && feats(0)(2) < 0.1, "red")
    assert(feats(1)(1) > 0.9 && feats(1)(0) < 0.1, "green")
    assert(feats(2)(2) > 0.9 && feats(2)(0) < 0.1, "blue")
    // asking for fewer frames than exist samples evenly: first + last
    val two = Multimodal.gifFrames(gif, 2).get
    assert(two.size == 2)
    val fs2 = two.map(img => Multimodal.imageFeaturesOf(img).get)
    assert(fs2(0)(0) > 0.9 && fs2(1)(2) > 0.9)
    // extractFeatures kind=video now uses the real path for GIF bytes:
    // the embedding is the frame-average of pixel statistics (each RGB
    // channel ≈ 1/3 over solid red+green+blue frames), not the
    // byte-hash stub
    val rec = Seq(Multimodal.MediaRecord(9L, "video", gif,
      Multimodal.MediaMeta(None, None, None, Some("gif")))).toDS()
    val feat = Multimodal.extractFeatures(spark, rec).collect().head.feature
    assert(math.abs(feat(0) - 1.0 / 3) < 0.05)
    assert(math.abs(feat(1) - 1.0 / 3) < 0.05)
    assert(math.abs(feat(2) - 1.0 / 3) < 0.05)
    assert(!feat.sameElements(Multimodal.hashEmbedding(gif)))
  }

  /** Deterministic structured test image: a left-to-right luminance
    * gradient with per-image phase so distinct images hash apart. */
  private def gradientImage(w: Int, h: Int, phase: Int,
      format: String = "png",
      patch: Option[(Int, Int, Int)] = None): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach { x =>
      (0 until h).foreach { y =>
        val v = ((x * 255 / w) + phase * 53 +
          (if ((y * 8 / h + phase) % 2 == 0) 0 else 40)) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    patch.foreach { case (px, py, c) =>
      (px until math.min(w, px + 6)).foreach(x =>
        (py until math.min(h, py + 6)).foreach(y => img.setRGB(x, y, c)))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos))
    bos.toByteArray
  }

  /** True box-downscale of an encoded image to (tw, th): the SAME
    * content at thumbnail resolution, unlike re-rendering the fixture
    * formula at a small size (which quantizes the gradient into too
    * few steps and is genuinely different content). */
  private def downscale(bytes: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val out = new java.awt.image.BufferedImage(tw, th,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until tw; y <- 0 until th) {
      val x0 = x * src.getWidth / tw
      val x1 = math.max(x0 + 1, (x + 1) * src.getWidth / tw)
      val y0 = y * src.getHeight / th
      val y1 = math.max(y0 + 1, (y + 1) * src.getHeight / th)
      var (r, g, b, n) = (0L, 0L, 0L, 0L)
      for (xx <- x0 until x1; yy <- y0 until y1) {
        val rgb = src.getRGB(xx, yy)
        r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff
        n += 1
      }
      out.setRGB(x, y,
        ((r / n).toInt << 16) | ((g / n).toInt << 8) | (b / n).toInt)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(out, "png", bos))
    bos.toByteArray
  }

  test("dHash64: stable under re-encode/rescale, far apart for distinct content") {
    val base = Multimodal.dHash64(gradientImage(96, 64, 0)).get
    // identical content, different byte stream (JPEG re-encode)
    val jpeg = Multimodal.dHash64(gradientImage(96, 64, 0, "jpg")).get
    assert(java.lang.Long.bitCount(base ^ jpeg) <= 4)
    // same content at a different resolution
    val scaled = Multimodal.dHash64(gradientImage(48, 32, 0)).get
    assert(java.lang.Long.bitCount(base ^ scaled) <= 4)
    // a small local edit flips only a few bits
    val patched = Multimodal
      .dHash64(gradientImage(96, 64, 0, patch = Some((40, 20, 0xff0000)))).get
    assert(java.lang.Long.bitCount(base ^ patched) <= 10)
    // different content is far away
    val other = Multimodal.dHash64(gradientImage(96, 64, 3)).get
    assert(java.lang.Long.bitCount(base ^ other) > 16)
    // sub-grid thumbnail (smaller than the 9×8 grid): a TRUE box
    // downscale of the SAME image to 6×4 — the bilinear cell-center
    // upsampling keeps adjacent grid cells distinct (nearest-pixel
    // would map neighbouring cells onto one source pixel and zero
    // their comparison bits), so the thumbnail stays near its
    // full-size original. (Re-RENDERING the fixture formula at 6×4 is
    // different content — the gradient quantizes to 6 steps — and is
    // deliberately not asserted against.)
    val thumb = Multimodal.dHash64(downscale(gradientImage(96, 64, 0), 6, 4)).get
    assert(java.lang.Long.bitCount(base ^ thumb) <= 12,
      s"thumbnail drifted ${java.lang.Long.bitCount(base ^ thumb)} bits")
    // junk bytes have no hash
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
  }

  test("dHash64 property: true downscales stay near the original " +
      "across sizes and phases, including sub-grid") {
    // structured content (low-frequency gradients), not noise — a
    // downscale of white noise genuinely destroys content, and no
    // perceptual hash promises stability there
    for (phase <- 0 until 12) {
      val full = gradientImage(96, 64, phase)
      val base = Multimodal.dHash64(full).get
      // at least one source pixel per 9×8 grid cell: tight bound
      for ((tw, th) <- Seq((48, 32), (24, 16), (12, 8))) {
        val d = Multimodal.dHash64(downscale(full, tw, th)).get
        val bits = java.lang.Long.bitCount(base ^ d)
        assert(bits <= 12,
          s"phase $phase downscale ${tw}x$th drifted $bits bits")
      }
    }
    // BELOW the grid the guarantee honestly ENDS: a 6×4 thumbnail is
    // a 16× downscale (0.7 px per grid cell) and this fixture family
    // measures drifts up to 24 bits there — a sub-half-grid thumbnail
    // can hash closer to a DIFFERENT image than to its own original,
    // which no 64-bit perceptual hash can prevent (the information is
    // gone). The bilinear sub-grid path still beats nearest-pixel
    // (phase 0 lands at <=12 vs 24 before the fix — pinned in the
    // re-encode/rescale test above); production near-dup should treat
    // images smaller than ~2× the grid as unmatchable by this hash.
  }

  test("imageNearDup equals brute force over the hash space") {
    val imgs: Seq[(Long, Array[Byte])] = Seq(
      1L -> gradientImage(96, 64, 0),
      2L -> gradientImage(96, 64, 0, "jpg"),        // re-encode of 1
      3L -> gradientImage(48, 32, 0),               // rescale of 1
      4L -> gradientImage(96, 64, 3),               // distinct
      5L -> gradientImage(96, 64, 7),               // distinct
      6L -> gradientImage(64, 64, 7),               // rescale of 5
      7L -> "junk bytes, not an image".getBytes // undecodable
    )
    val df = imgs.toDF("media_id", "bytes")
    for (t <- Seq(0, 6)) {
      val got = Multimodal.imageNearDup(spark, df, "media_id", "bytes", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val hs = imgs.flatMap { case (id, b) =>
        Multimodal.dHash64(b).map(id -> _) }
      val brute = (for {
        (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= t
      } yield (ia, ib, d)).toSet
      assert(got == brute, s"maxHamming=$t")
      assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    }
    // the intended near-dups actually surface at the default threshold
    val pairs = Multimodal.imageNearDup(spark, df, "media_id", "bytes")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }
}
