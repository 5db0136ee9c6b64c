package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.multimodal.Multimodal
import graft.streaming.EventStream

/** Multimodal binary-column plumbing + Structured Streaming windowed
  * aggregation (memory sink; batch equivalence). */
class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("media table from text bytes; image decode plumbing") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "image")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "bytes", "meta"))

    val decoded = Multimodal.decodeImages(media)
    val rows = decoded.select("media_id", "width", "height", "channels", "features").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getInt(1) >= 64 && r.getInt(1) < 512)
      assert(r.getInt(3) == 3)
      assert(r.getSeq[Float](4).length == 16)
    }
    // deterministic: decoding twice gives identical output
    val again = Multimodal.decodeImages(media)
      .select("media_id", "width", "height").collect().toSeq
    assert(decoded.select("media_id", "width", "height").collect().toSeq == again)
  }

  test("ImageIoCodec: real PNG/JPEG decode through the Spark plan") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    // deterministic fixture: 64x48 horizontal luminance gradient
    def gradientBytes(format: String): Array[Byte] = {
      val img = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = x * 255 / 63
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, format, bos))
      bos.toByteArray
    }

    val rows = Seq(
      (1L, "image", gradientBytes("png"), Map("fmt" -> "png")),
      (2L, "image", gradientBytes("jpg"), Map("fmt" -> "jpg")),
      (3L, "image", "not an image".getBytes("UTF-8"), Map("fmt" -> "corrupt")))
    val media = rows.toDF("media_id", "kind", "bytes", "meta")

    val out = Multimodal.decodeImages(media, Multimodal.ImageIoCodec)
      .select("media_id", "width", "height", "channels", "features")
      .collect().sortBy(_.getLong(0))

    // real dimensions from both codecs; corrupt row degrades, not throws
    out.take(2).foreach { r =>
      assert(r.getInt(1) == 64 && r.getInt(2) == 48 && r.getInt(3) == 3)
      val f = r.getSeq[Float](4)
      assert(f.length == 16)
      // gradient: each grid row runs dark -> bright, strictly increasing
      for (row <- 0 until 4)
        assert(f(row * 4) < f(row * 4 + 1) && f(row * 4 + 2) < f(row * 4 + 3),
          s"row $row not increasing: $f")
      assert(f.forall(v => v >= -1.0f && v <= 1.0f))
    }
    assert(out(2).getInt(1) == 0 && out(2).getInt(3) == 0 &&
      out(2).getSeq[Float](4).isEmpty)

    // PNG is lossless: decoded features must match the source exactly;
    // JPEG is lossy but the pooled means stay close
    val png = out(0).getSeq[Float](4)
    val jpg = out(1).getSeq[Float](4)
    png.zip(jpg).foreach { case (a, b) => assert(math.abs(a - b) < 0.05f) }
  }

  test("ImageIoCodec: real WAV audio decode through the Spark plan") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    // deterministic fixture: 16-bit PCM WAV, 440 Hz sine, amplitude 0.5
    def sineWav(rate: Int, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate.toFloat, 16, channels, 2 * channels, rate.toFloat, false)
      val pcm = new Array[Byte](frames * 2 * channels)
      for (f <- 0 until frames) {
        val s = (0.5 * math.sin(2 * math.Pi * 440.0 * f / rate) * 32767).toInt
        for (c <- 0 until channels) {
          val i = f * 2 * channels + 2 * c
          pcm(i) = (s & 0xff).toByte
          pcm(i + 1) = ((s >> 8) & 0xff).toByte
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    val rows = Seq(
      (1L, "audio", sineWav(8000, 1, 4000), Map("fmt" -> "wav-mono")),
      (2L, "audio", sineWav(16000, 2, 8000), Map("fmt" -> "wav-stereo")),
      (3L, "audio", "not audio".getBytes("UTF-8"), Map("fmt" -> "corrupt")))
    val media = rows.toDF("media_id", "kind", "bytes", "meta")

    val out = Multimodal.decodeAudio(media, Multimodal.ImageIoCodec)
      .select("media_id", "sample_rate", "audio_channels", "n_frames", "audio_features")
      .collect().sortBy(_.getLong(0))

    assert(out(0).getInt(1) == 8000 && out(0).getInt(2) == 1 && out(0).getLong(3) == 4000L)
    assert(out(1).getInt(1) == 16000 && out(1).getInt(2) == 2 && out(1).getLong(3) == 8000L)
    // constant-amplitude sine: every temporal segment's RMS is
    // amp/sqrt(2) = 0.3536, scaled to 2*rms-1 = -0.293
    Seq(out(0), out(1)).foreach { r =>
      val f = r.getSeq[Float](4)
      assert(f.length == 16)
      f.foreach(v => assert(math.abs(v - (-0.2929f)) < 0.01f, s"segment rms off: $v"))
    }
    // corrupt payload degrades, not throws
    assert(out(2).getInt(1) == 0 && out(2).getInt(2) == 0 &&
      out(2).getSeq[Float](4).isEmpty)

    // FakeCodec keeps the same plan shape and stays deterministic
    val fake1 = Multimodal.decodeAudio(media).select("media_id", "sample_rate", "audio_features")
      .collect().toSeq
    val fake2 = Multimodal.decodeAudio(media).select("media_id", "sample_rate", "audio_features")
      .collect().toSeq
    assert(fake1 == fake2)
  }

  test("resize targets preserve aspect ratio and cap the long side") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val decoded = Multimodal.decodeImages(
      Multimodal.mediaFromText(docs, "doc_id", "text", "image"))
    val resized = Multimodal.withResizeTarget(decoded, maxSide = 128)
    resized.select("width", "height", "target_width", "target_height").collect().foreach { r =>
      val (w, h, tw, thh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(math.max(tw, thh) <= 128)
      if (math.max(w, h) <= 128) assert(tw == w && thh == h)
    }
  }

  test("video frame sampling explodes into frame rows") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "video")
    val frames = Multimodal.sampleVideoFrames(media, everyNth = 4)
    assert(frames.count() > 5) // more frames than videos
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_idx", "frame_bytes"))
    // image rows are filtered out
    val imgs = Multimodal.mediaFromText(docs, "doc_id", "text", "image")
    assert(Multimodal.sampleVideoFrames(imgs, 4).count() == 0)
  }

  test("ImageIoCodec: REAL video demux — MJPEG-in-AVI frames decode to pixels") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    import graft.multimodal.VideoDemux

    // 3-frame clip: each frame a solid-gray 32x24 JPEG of distinct level
    def grayJpeg(level: Int): Array[Byte] = {
      val img = new BufferedImage(32, 24, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, (level << 16) | (level << 8) | level)
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    val avi = VideoDemux.writeAviMjpeg(Seq(grayJpeg(40), grayJpeg(128), grayJpeg(220)))

    val media = Seq(
      (1L, "video", avi, Map("fmt" -> "avi-mjpeg")),
      (2L, "video", "not a container".getBytes("UTF-8"), Map("fmt" -> "corrupt")))
      .toDF("media_id", "kind", "bytes", "meta")

    // everyNth=2 keeps frames 0 and 2; the corrupt row yields nothing
    val frames = Multimodal.sampleVideoFrames(media, everyNth = 2,
      Multimodal.ImageIoCodec).collect().sortBy(_.getInt(1))
    assert(frames.map(_.getLong(0)).toSeq == Seq(1L, 1L))
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1))

    // the sampled frames are complete JPEGs: feed them to the REAL
    // image decode and check the solid-gray levels come back in order
    val frameMedia = frames.zipWithIndex.map { case (r, i) =>
      (i.toLong, "image", r.getAs[Array[Byte]](2), Map.empty[String, String])
    }.toSeq.toDF("media_id", "kind", "bytes", "meta")
    val decoded = Multimodal.decodeImages(frameMedia, Multimodal.ImageIoCodec)
      .select("media_id", "width", "height", "features")
      .collect().sortBy(_.getLong(0))
    assert(decoded.forall(r => r.getInt(1) == 32 && r.getInt(2) == 24))
    val lum = decoded.map(_.getSeq[Float](3).head)
    assert(lum(0) < lum(1), s"frame 0 (gray 40) vs frame 2 (gray 220): ${lum.toSeq}")
  }

  test("q108 fixture: synthetic MJPEG videos decode to the generated gray levels") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val media = Multimodal.syntheticMjpegVideos(docs, "doc_id")
    // determinism: two generations are byte-identical
    val a = media.orderBy("media_id").collect().map(_.getAs[Array[Byte]]("bytes").toSeq)
    val b = Multimodal.syntheticMjpegVideos(docs, "doc_id")
      .orderBy("media_id").collect().map(_.getAs[Array[Byte]]("bytes").toSeq)
    assert(a.toSeq == b.toSeq)

    val frames = Multimodal.sampleVideoFrames(media, everyNth = 2,
      Multimodal.ImageIoCodec)
    val decoded = Multimodal.decodeImages(
      frames.withColumnRenamed("frame_bytes", "bytes"), Multimodal.ImageIoCodec)
      .select("media_id", "frame_idx", "width", "height", "channels", "features")
      .collect()
    assert(decoded.nonEmpty)
    assert(decoded.forall(r => r.getInt(2) == 32 && r.getInt(3) == 24 && r.getInt(4) == 3))
    // luminance within JPEG-quantization tolerance of the generated
    // gray level: sampled frame_idx i is source frame 2*i
    decoded.foreach { r =>
      val id = r.getLong(0)
      val srcFrame = 2 * r.getInt(1)
      val gray = ((id * 31 + srcFrame * 17) % 256).toInt
      val lum = (r.getSeq[Float](5).head + 1.0) / 2.0 * 255.0
      assert(math.abs(lum - gray) <= 6.0,
        s"media $id frame $srcFrame: decoded luminance $lum vs generated gray $gray")
    }
    // per-media sampled count matches the (nFrames+1)/2 oracle formula
    val counts = decoded.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    counts.foreach { case (id, n) =>
      assert(n == (2 + (id % 7).toInt + 1) / 2, s"media $id sampled $n")
    }
  }

  test("VideoDemux: Y4M sampling re-emits parseable single-frame clips") {
    import graft.multimodal.VideoDemux
    // 8x6 C420: frame = 48 luma + 2*12 chroma = 72 bytes
    val f0 = Array.tabulate(72)(i => i.toByte)
    val f1 = Array.tabulate(72)(i => (200 - i).toByte)
    val clip = writeY4M(8, 6, Seq(f0, f1))

    val sampled = VideoDemux.sampleFrames(clip, 1)
    assert(sampled.length == 2)
    // each output is itself a valid 1-frame Y4M clip with the data intact
    sampled.zip(Seq(f0, f1)).foreach { case (one, orig) =>
      val again = VideoDemux.sampleFrames(one, 1)
      assert(again.length == 1)
      assert(again.head.toSeq == one.toSeq)
      assert(one.takeRight(72).toSeq == orig.toSeq)
    }
    // everyNth=2 keeps only frame 0
    assert(VideoDemux.sampleFrames(clip, 2).length == 1)
    // truncated tail frame: the partial frame is dropped, not mis-split
    assert(VideoDemux.sampleFrames(clip.dropRight(10), 1).length == 1)
    // compressed/unknown codecs degrade to zero frames
    assert(VideoDemux.sampleFrames(Array[Byte](0, 0, 0, 1, 0x67, 0x42), 1).isEmpty)
  }

  test("streaming tumbling window == batch tumbling window (memory sink)") {
    // stage events as micros-timestamped parquet for the file stream
    val staging = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = graft.queries.Tables.table(spark, sfDir, "events")
    events.coalesce(1).write.mode("overwrite").parquet(staging)

    val stream = spark.readStream.schema(spark.read.parquet(staging).schema).parquet(staging)
    val q = EventStream.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql(
      "SELECT window_start, event_type, n, value_sum FROM stream_out")
      .withColumn("value_sum", round(col("value_sum"), 2))
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = EventStream.tumblingCounts(spark.read.parquet(staging))
      .withColumn("value_sum", round(col("value_sum"), 2))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  /** Minimal Y4M writer: header + raw C420 frames (each `w*h*3/2`
    * bytes, Y then quarter-res U, V planes). */
  private def writeY4M(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
    frames.foreach { f =>
      bos.write("FRAME\n".getBytes("US-ASCII"))
      bos.write(f)
    }
    bos.toByteArray
  }
}
