package graft

import org.apache.spark.sql.functions._

import graft.operators.{Indexer, Multimodal}
import graft.streaming.StreamingIndexer

class MultimodalStreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("multimodal: binary payload round-trips and features are deterministic") {
    val feats = Multimodal.extractFeatures(spark, sf).collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      assert(f.features.length === Multimodal.FeatureDim)
      assert(f.n_bytes > 0)
    }
    // determinism: recompute one asset's features on the driver
    val one = Multimodal.assets(spark, sf)
      .filter("asset_id = 0")
      .select("asset_id", "payload").as[(Long, Array[Byte])].head()
    val expected = feats.find(_.asset_id == 0L).get.features
    assert(Multimodal.decodeStub(one._2).sameElements(expected))
  }

  test("multimodal: real PNG payloads decode through javax.imageio to exact pixel stats") {
    // synthesize genuine PNGs with known pixels: asset 1 all-black (luma 0,
    // histogram bin 0), asset 2 all-white (luma 255, last bin), asset 3
    // half black / half mid-gray (128 -> bin 8 of 16)
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
      out.toByteArray
    }
    val black = png(4, 4, (_, _) => 0x000000)
    val white = png(4, 4, (_, _) => 0xFFFFFF)
    val halfGray = png(4, 4, (x, _) => if (x < 2) 0x000000 else 0x808080)
    val in = Seq(
      Multimodal.Asset(1L, "image", black, 4, 4),
      Multimodal.Asset(2L, "image", white, 4, 4),
      Multimodal.Asset(3L, "image", halfGray, 4, 4),
      Multimodal.Asset(4L, "audio", "not a png".getBytes("UTF-8"), 0, 0))
      .toDS()
    val feats = Multimodal.extractFeaturesFrom(spark, in).collect()
      .map(f => f.asset_id -> f).toMap
    def hist(bins: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](Multimodal.FeatureDim)
      bins.foreach { case (i, v) => a(i) = v }
      a
    }
    assert(feats(1L).features.sameElements(hist(0 -> 1.0f)),
      "all-black PNG must land fully in luma bin 0")
    assert(feats(2L).features.sameElements(hist(15 -> 1.0f)),
      "all-white PNG must land fully in the last luma bin")
    assert(feats(3L).features.sameElements(hist(0 -> 0.5f, 8 -> 0.5f)),
      "half-black/half-gray PNG must split bins 0 and 8 evenly")
    // non-PNG payloads keep the deterministic stub fold
    assert(feats(4L).features.sameElements(
      Multimodal.decodeStub("not a png".getBytes("UTF-8"))))
  }

  test("multimodal: real PNG resize — decode, NN-resample, re-encode round-trips exact pixels") {
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
      out.toByteArray
    }
    // 4×4 quadrant image: each 2×2 quadrant a distinct color — the 2×2
    // NN thumb must pick the top-left pixel of each quadrant (floor rule)
    val quad = png(4, 4, (x, y) =>
      (if (y < 2) if (x < 2) 0xFF0000 else 0x00FF00
       else if (x < 2) 0x0000FF else 0xFFFFFF))
    val textBytes = "not a png".getBytes("UTF-8")
    val in = Seq(
      Multimodal.Asset(1L, "image", quad, 4, 4),
      Multimodal.Asset(2L, "image", textBytes, 4, 4)).toDS()
    val thumbs = Multimodal.resizeImagesFrom(spark, in, 2, 2).collect()
      .map(t => t.asset_id -> t).toMap
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(thumbs(1L).thumb))
    assert(dec.getWidth === 2 && dec.getHeight === 2)
    assert((dec.getRGB(0, 0) & 0xFFFFFF) === 0xFF0000)
    assert((dec.getRGB(1, 0) & 0xFFFFFF) === 0x00FF00)
    assert((dec.getRGB(0, 1) & 0xFFFFFF) === 0x0000FF)
    assert((dec.getRGB(1, 1) & 0xFFFFFF) === 0xFFFFFF)
    // non-PNG payloads keep the deterministic byte-sampling stand-in
    assert(thumbs(2L).thumb.sameElements(
      Multimodal.resizeStub(textBytes, 2, 2)))
  }

  test("multimodal: real JPEG payloads decode through javax.imageio (features + resize)") {
    // synthesize a genuine JPEG via the JDK's own encoder. JPEG is lossy,
    // so pixel values are NOT asserted exactly like the PNG cases — but
    // uniform images survive DCT quantization exactly at the block level,
    // so all-black/all-white land fully in the first/last luma bin
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out), "no JPEG writer")
      out.toByteArray
    }
    val black = jpeg(8, 8, 0x000000)
    val white = jpeg(8, 8, 0xFFFFFF)
    assert(Multimodal.isJpeg(black) && !Multimodal.isPng(black))
    assert(!Multimodal.isJpeg("not a jpeg".getBytes("UTF-8")))
    val in = Seq(
      Multimodal.Asset(1L, "image", black, 8, 8),
      Multimodal.Asset(2L, "image", white, 8, 8)).toDS()
    val feats = Multimodal.extractFeaturesFrom(spark, in).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats(1L).decode_ok && feats(2L).decode_ok)
    assert(feats(1L).features(0) === 1.0f,
      "all-black JPEG must land fully in luma bin 0")
    assert(feats(2L).features(Multimodal.FeatureDim - 1) === 1.0f,
      "all-white JPEG must land fully in the last luma bin")
    // resize: JPEG decodes, NN-resamples, re-encodes as PNG (lossless)
    val thumbs = Multimodal.resizeImagesFrom(spark, in, 2, 2).collect()
      .map(t => t.asset_id -> t).toMap
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(thumbs(1L).thumb))
    assert(Multimodal.isPng(thumbs(1L).thumb), "thumb re-encodes as PNG")
    assert(dec.getWidth === 2 && dec.getHeight === 2)
    assert((dec.getRGB(0, 0) & 0xFFFFFF) === 0x000000)
    // a corrupt payload that SNIFFS as JPEG quarantines the row
    val corrupt = java.util.Arrays.copyOf(black, 8)
    val bad = Multimodal.extractFeaturesFrom(spark,
      Seq(Multimodal.Asset(3L, "image", corrupt, 8, 8)).toDS()).collect().head
    assert(!bad.decode_ok && bad.features.isEmpty && bad.decode_error.nonEmpty)
  }

  test("multimodal: real WAV payloads decode through javax.sound.sampled to exact sample stats") {
    // synthesize genuine 16-bit PCM WAVs with known samples: asset 1 all
    // silence (amp 0, histogram bin 0), asset 2 full-scale (32767, last
    // bin), asset 3 alternating silence / half-scale (16384 -> bin 8 of 16)
    def wav(samples: Array[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(bb.putShort)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val silence = wav(Array.fill[Short](64)(0))
    val fullScale = wav(Array.fill[Short](64)(32767))
    val halfAlt = wav(Array.tabulate[Short](64)(i => if (i % 2 == 0) 0 else 16384))
    val in = Seq(
      Multimodal.Asset(1L, "audio", silence, 0, 0),
      Multimodal.Asset(2L, "audio", fullScale, 0, 0),
      Multimodal.Asset(3L, "audio", halfAlt, 0, 0),
      Multimodal.Asset(4L, "video", "not a wav".getBytes("UTF-8"), 0, 0))
      .toDS()
    val feats = Multimodal.extractFeaturesFrom(spark, in).collect()
      .map(f => f.asset_id -> f).toMap
    def hist(bins: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](Multimodal.FeatureDim)
      bins.foreach { case (i, v) => a(i) = v }
      a
    }
    assert(feats(1L).features.sameElements(hist(0 -> 1.0f)),
      "all-silence WAV must land fully in amplitude bin 0")
    assert(feats(2L).features.sameElements(hist(15 -> 1.0f)),
      "full-scale WAV must land fully in the last amplitude bin")
    assert(feats(3L).features.sameElements(hist(0 -> 0.5f, 8 -> 0.5f)),
      "alternating silence/half-scale WAV must split bins 0 and 8 evenly")
    // non-WAV payloads keep the deterministic stub fold
    assert(feats(4L).features.sameElements(
      Multimodal.decodeStub("not a wav".getBytes("UTF-8"))))
  }

  test("multimodal: corrupt sniffed payloads quarantine the row, not the job") {
    // byte strings that pass the container sniff but fail their codec:
    // a PNG signature with garbage after it, and a RIFF/WAVE header with
    // a truncated body — plus one healthy stub row to prove the partition
    // keeps flowing past the failures
    val fakePng = (Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)) ++ "garbage".getBytes("UTF-8")
    val fakeWav = "RIFF1234WAVEgarbage".getBytes("US-ASCII")
    val in = Seq(
      Multimodal.Asset(1L, "image", fakePng, 4, 4),
      Multimodal.Asset(2L, "audio", fakeWav, 0, 0),
      Multimodal.Asset(3L, "video", "plain bytes".getBytes("UTF-8"), 0, 0))
      .toDS()
    val feats = Multimodal.extractFeaturesFrom(spark, in).collect()
      .map(f => f.asset_id -> f).toMap
    assert(!feats(1L).decode_ok && feats(1L).features.isEmpty &&
      feats(1L).decode_error.nonEmpty, s"png quarantine: ${feats(1L)}")
    assert(!feats(2L).decode_ok && feats(2L).features.isEmpty &&
      feats(2L).decode_error.nonEmpty, s"wav quarantine: ${feats(2L)}")
    assert(feats(3L).decode_ok && feats(3L).features.sameElements(
      Multimodal.decodeStub("plain bytes".getBytes("UTF-8"))))
  }

  test("multimodal featureStats: kinds partition the corpus") {
    val rows = Multimodal.featureStats(spark, sf).collect()
    assert(rows.map(_.getAs[String]("kind")).toSet === Set("image", "audio", "video"))
    assert(rows.map(_.getAs[Long]("n")).sum === 500L)
  }

  test("multimodal resize: exact thumbnail size, deterministic bytes") {
    val thumbs = Multimodal.resizeImagesFrom(spark,
      Multimodal.assets(spark, sf).filter("kind = 'image'").as[Multimodal.Asset],
      8, 8).collect()
    assert(thumbs.nonEmpty)
    thumbs.foreach { t =>
      assert(t.thumb.length === 64)
      assert(t.target_w === 8 && t.target_h === 8)
    }
    // determinism vs a driver-side recompute of one asset
    val one = Multimodal.assets(spark, sf)
      .filter("kind = 'image'").orderBy("asset_id")
      .select("asset_id", "payload").as[(Long, Array[Byte])].head()
    val expected = Multimodal.resizeStub(one._2, 8, 8)
    assert(thumbs.find(_.asset_id == one._1).get.thumb.sameElements(expected))
  }

  test("multimodal: real animated-GIF payloads decode to PNG keyframes") {
    // synthesize a genuine 6-frame animated GIF (8x8, each frame a solid
    // gray of increasing brightness) via the JDK's GIF sequence writer
    def gif(grays: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      grays.foreach { g =>
        val img = new java.awt.image.BufferedImage(
          8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (g << 16) | (g << 8) | g
        for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      out.toByteArray
    }
    val grays = Seq(16, 64, 112, 160, 208, 240)
    val payload = gif(grays)
    assert(Multimodal.isGif(payload))

    val in = Seq(
      Multimodal.Asset(1L, "video", payload, 8, 8),
      // GIF-sniffing garbage must quarantine, not fail the job
      Multimodal.Asset(2L, "video",
        "GIF89a then junk".getBytes("US-ASCII"), 0, 0),
      // non-GIF video bytes keep the deterministic chunk stand-in
      Multimodal.Asset(3L, "video", ("x" * 600).getBytes("US-ASCII"), 0, 0))
      .toDS()
    val frames = Multimodal.sampleFramesFrom(spark, in, 2).collect()
      .groupBy(_.asset_id)

    // real codec: frames 0,2,4 of 6, PNG-encoded, luminance rising
    val real = frames(1L).sortBy(_.frame_idx)
    assert(real.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    assert(real.forall(f => f.n_frames === 6 && f.decode_ok &&
      f.n_bytes === f.data.length && Multimodal.isPng(f.data)))
    val argmaxBins = real.map { f =>
      val h = Multimodal.decodeImageFeatures(f.data)
      assert(math.abs(h.sum - 1.0f) < 1e-6, "histogram mass")
      h.indexOf(h.max)
    }
    // solid-gray frames 16/112/208 land in strictly increasing luma bins
    // even under GIF palette quantization
    assert(argmaxBins.toSeq === argmaxBins.sorted.toSeq &&
      argmaxBins.distinct.length === 3, s"bins: ${argmaxBins.toSeq}")

    // quarantine: one decode_ok=false row with the error preserved
    val q = frames(2L)
    assert(q.length === 1 && !q.head.decode_ok &&
      q.head.decode_error.nonEmpty && q.head.data.isEmpty)

    // stub path: 600 bytes -> 3 chunks of 256, stride 2 samples 0 and 2
    val stub = frames(3L).sortBy(_.frame_idx)
    assert(stub.map(_.frame_idx).toSeq === Seq(0, 2) &&
      stub.forall(f => f.n_frames === 3 && f.decode_ok))
  }

  test("multimodal frame sampling: frames tile the payload, stride respected") {
    val frames = Multimodal.sampleFrames(spark, sf, 4).collect()
    assert(frames.nonEmpty)
    frames.foreach { f =>
      assert(f.frame_idx % 4 === 0)
      assert(f.n_bytes > 0 && f.n_bytes <= Multimodal.FrameBytes)
      assert(f.data.length === f.n_bytes)
    }
    // per-asset: sampled count matches ceil(n_frames / 4)
    frames.groupBy(_.asset_id).foreach { case (_, fs) =>
      val n = fs.head.n_frames
      assert(fs.length === (n + 3) / 4)
    }
  }

  test("streaming hourly rollup == batch hourly rollup") {
    val watch = java.nio.file.Files.createTempDirectory("graft_stream_ev").toString
    graft.sources.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(watch)
    val q = startToMemory(
      StreamingIndexer.hourlyRollupStream(spark, watch), "complete", "stream_hourly")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_hourly")
        .select(date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      val batch = graft.operators.Events.hourlyRollup(spark, sf)
        .select($"hour", $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming postings == batch postings over the same directory") {
    // copy the documents parquet into a watch dir, stream it, compare
    val watch = java.nio.file.Files.createTempDirectory("graft_stream").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(watch)
    val q = startToMemory(
      StreamingIndexer.postingsStream(spark, watch), "complete", "stream_postings")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_postings")
        .as[(String, Long, Long)].collect().toSet
      val batch = Indexer.postings(spark, sf)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }
}
