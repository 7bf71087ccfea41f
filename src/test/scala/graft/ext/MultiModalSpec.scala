package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class MultiModalSpec extends SparkTestBase {
  import spark.implicits._

  test("blob transport round-trips bytes; decodeMeta is deterministic") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "text")
      .select($"id", MultiModal.textAsBlob($"text").as("blob"))
    val metas = df.select($"id", MultiModal.decodeMeta($"blob").as("m"))
      .select($"id", $"m.n_bytes", $"m.width", $"m.height", $"m.fingerprint")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    assert(metas(1L) == metas(2L)) // same bytes → same metadata
    assert(metas(1L) != metas(3L))
    assert(metas(1L)._1 == 11)
    assert(metas(1L)._2 >= 1 && metas(1L)._2 <= 1920)
    assert(metas(1L)._3 >= 1 && metas(1L)._3 <= 1080)
  }

  test("frameSample: n slices, fixed width, spanning the payload") {
    val payload = ("ab" * 50) // 100 bytes
    val frames = Seq(payload).toDF("t")
      .select(MultiModal.frameSample(
        MultiModal.textAsBlob($"t"), n = 4, frameBytes = 10).as("f"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(frames.length == 4)
    assert(frames.forall(_.length == 10))
    assert(new String(frames.head, "UTF-8") == "ababababab")
    // last frame ends at the payload's tail: offset 1+3*30=91 → bytes 91..100
    assert(new String(frames.last, "UTF-8") == payload.substring(90, 100))
  }

  test("PNG codec: real javax.imageio bytes decode to the encoded dimensions") {
    val codec = new MultiModal.PngCodec
    val bytes = codec.encode(7L, 33, 21)
    // PNG magic: a real container, not a stub fingerprint
    assert(bytes.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    val m = codec.decode(7L, bytes)
    assert(m.format == "image/png")
    assert(m.width == 33 && m.height == 21)
    assert(m.nBytes == bytes.length)
    // distinct ids produce distinct pixel data
    assert(!java.util.Arrays.equals(bytes, codec.encode(8L, 33, 21)))
  }

  test("PNG and GIF codecs leave the JVM-wide ImageIO cache flag as they " +
      "found it") {
    import javax.imageio.ImageIO
    val before = ImageIO.getUseCache
    // the JDK default; an earlier flip would hide a codec's own
    ImageIO.setUseCache(true)
    try {
      val png = new MultiModal.PngCodec
      val gif = new MultiModal.GifCodec
      assert(png.decode(1L, png.encode(1L, 8, 8)).width == 8)
      assert(gif.decodeSampled(1L, gif.encode(1L, 8, 8, 2), 2).nFrames == 2)
      assert(ImageIO.getUseCache, "a codec flipped ImageIO.setUseCache")
    } finally ImageIO.setUseCache(before)
  }

  test("encode/decodeImagePartitions: distributed real-codec round-trip") {
    val meta = (0L until 24L).map(i => (i, (i % 13 + 5).toInt, (i % 7 + 3).toInt))
    val df = meta.toDF("doc_id", "w", "h")
    val blobs = MultiModal.encodeImagePartitions(df, "doc_id", "w", "h")
    val got = MultiModal.decodeImagePartitions(blobs, "id", "blob")
      .collect().map(m => m.id -> m).toMap
    assert(got.size == 24)
    meta.foreach { case (id, w, h) =>
      assert(got(id).width == w && got(id).height == h, s"id=$id")
      assert(got(id).format == "image/png")
    }
  }

  test("resize: real rescale to target raster, content still distinguishes sources") {
    val codec = new MultiModal.PngCodec
    val a = codec.resize(codec.encode(1L, 40, 20), 32, 32)
    val b = codec.resize(codec.encode(200L, 40, 20), 32, 32)
    assert(codec.decode(1L, a).width == 32 && codec.decode(1L, a).height == 32)
    // different source pixels survive the resize as different bytes
    assert(!java.util.Arrays.equals(a, b))
    intercept[IllegalArgumentException] { codec.resize(a, 0, 32) }
  }

  test("deflateQuality knob trades bytes for speed but stays LOSSLESS: " +
      "decoded pixels identical at every level") {
    val default = new MultiModal.PngCodec()
    val stored = new MultiModal.PngCodec(deflateQuality = Some(1.0f))
    val src = default.encode(42L, 40, 24)
    val a = default.resize(src, 32, 32)
    val b = stored.resize(src, 32, 32)
    // different container bytes (stored is bigger)...
    assert(b.length > a.length)
    // ...but pixel-identical rasters: PNG is lossless at every level
    val ia = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a))
    val ib = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val pa = ia.getRGB(0, 0, 32, 32, null, 0, 32)
    val pb = ib.getRGB(0, 0, 32, 32, null, 0, 32)
    assert(java.util.Arrays.equals(pa, pb))
  }

  test("resizeImagePartitions: every image normalizes to the target resolution") {
    val meta = (0L until 18L).map(i => (i, (i % 13 + 5).toInt, (i % 7 + 3).toInt))
    val blobs = MultiModal.encodeImagePartitions(
      meta.toDF("doc_id", "w", "h"), "doc_id", "w", "h")
    val resized = MultiModal.resizeImagePartitions(blobs, "id", "blob", 16, 16)
    val got = MultiModal.decodeImagePartitions(resized, "id", "blob").collect()
    assert(got.length == 18)
    assert(got.forall(m => m.width == 16 && m.height == 16))
    assert(got.map(_.fingerprint).distinct.length == 18,
      "distinct sources must stay distinct after normalization")
  }

  test("WAV codec: real RIFF/WAVE bytes parse back to the encoded spec " +
      "with a lossless PCM payload") {
    val codec = new MultiModal.WavCodec
    val bytes = codec.encode(7L, sampleRateHz = 22050, channels = 2,
      nFrames = 300)
    // RIFF/WAVE container magic: a real WAV file, not a stub blob
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    // canonical PCM layout: 44-byte header + frames x channels x 2 data
    assert(bytes.length == 44 + 300 * 2 * 2)
    val m = codec.decode(7L, bytes)
    assert(m.format == "audio/wave")
    assert(m.sampleRateHz == 22050 && m.channels == 2 && m.nFrames == 300)
    assert(m.durationMs == 300L * 1000 / 22050) // floor-division ms
    assert(m.nBytes == bytes.length)
    // lossless round-trip: fingerprint of the DECODED PCM equals the
    // fingerprint of the raw synthesized frames that went in
    val raw = codec.pcm(7L, channels = 2, nFrames = 300)
    var h = 1125899906842597L
    raw.foreach(b => h = 31 * h + b)
    assert(m.pcmFingerprint == h)
    // distinct ids produce distinct PCM
    assert(m.pcmFingerprint != codec.decode(8L,
      codec.encode(8L, 22050, 2, 300)).pcmFingerprint)
    intercept[IllegalArgumentException] { codec.encode(1L, 0, 2, 300) }
  }

  test("encode/decodeAudioPartitions: distributed real-codec round-trip " +
      "at mixed rates and channel counts") {
    val meta = (0L until 24L).map(i =>
      (i, (i % 3 * 11025 + 11025).toInt, (i % 2 + 1).toInt,
        (i % 50 + 20).toInt))
    val df = meta.toDF("doc_id", "rate", "channels", "frames")
    val blobs = MultiModal.encodeAudioPartitions(
      df, "doc_id", "rate", "channels", "frames")
    val got = MultiModal.decodeAudioPartitions(blobs, "id", "blob")
      .collect().map(m => m.id -> m).toMap
    assert(got.size == 24)
    meta.foreach { case (id, rate, ch, fr) =>
      val m = got(id)
      assert(m.sampleRateHz == rate && m.channels == ch && m.nFrames == fr,
        s"id=$id")
      assert(m.format == "audio/wave")
      assert(m.durationMs == fr.toLong * 1000 / rate)
    }
  }

  test("GIF codec: real GIF89a animation parses back to the encoded " +
      "frame count; sampler decodes exactly the evenly-spaced frames") {
    val codec = new MultiModal.GifCodec
    val bytes = codec.encode(9L, width = 20, height = 14, nFrames = 7)
    // GIF89a container magic: a real animation stream, not a stub blob
    assert(new String(bytes.take(6), "US-ASCII") == "GIF89a")
    val m = codec.decodeSampled(9L, bytes, nSample = 4)
    assert(m.format == "image/gif")
    assert(m.width == 20 && m.height == 14)
    assert(m.nFrames == 7 && m.nSampled == 4)
    // evenly spaced over 7 frames: indices 0, 2, 4, 6
    assert(m.sampleIdxSum == 0 + 2 + 4 + 6)
    assert(m.nBytes == bytes.length)
    // distinct ids produce distinct frame pixels
    assert(m.frameFingerprint != codec.decodeSampled(10L,
      codec.encode(10L, 20, 14, 7), 4).frameFingerprint)
    // sampling different frames reads different rasters
    assert(m.frameFingerprint !=
      codec.decodeSampled(9L, bytes, nSample = 3).frameFingerprint)
    // fewer frames than the sample size: every frame decoded once
    val short = codec.decodeSampled(9L, codec.encode(9L, 8, 8, 2), nSample = 4)
    assert(short.nFrames == 2 && short.nSampled == 2 &&
      short.sampleIdxSum == 0 + 1)
    intercept[IllegalArgumentException] { codec.encode(1L, 0, 8, 3) }
    intercept[IllegalArgumentException] { codec.decodeSampled(1L, bytes, 1) }
  }

  test("encodeGif/sampleGifFramesPartitions: distributed multi-frame " +
      "round-trip at mixed dims and frame counts") {
    val meta = (0L until 18L).map(i =>
      (i, (i % 13 + 6).toInt, (i % 7 + 5).toInt, (i % 5 + 4).toInt))
    val df = meta.toDF("doc_id", "w", "h", "nf")
    val blobs = MultiModal.encodeGifPartitions(df, "doc_id", "w", "h", "nf")
    val got = MultiModal.sampleGifFramesPartitions(blobs, "id", "blob", 4)
      .collect().map(m => m.id -> m).toMap
    assert(got.size == 18)
    meta.foreach { case (id, w, h, nf) =>
      val m = got(id)
      assert(m.width == w && m.height == h && m.nFrames == nf, s"id=$id")
      assert(m.nSampled == math.min(4, nf))
    }
    // distinct sources stay distinct through palette quantization
    assert(got.values.map(_.frameFingerprint).toSeq.distinct.size == 18)
  }

  test("dhash: pixel-exact through the real PNG round-trip, degenerate " +
      "on the monotone gradient, class-stable on the textured weave") {
    val codec = new MultiModal.PngCodec
    // the plain gradient is monotone in x → every horizontal-gradient
    // bit is 0 (the degeneracy that motivated encodeTextured)
    assert(codec.dhash(codec.encode(7L, 24, 24)) == "0000000000000000")
    // same texture class (id mod 256) → identical hash regardless of
    // the multiplier part of the id; different class → different hash
    val a = codec.dhash(codec.encodeTextured(3L, 32, 48))
    val b = codec.dhash(codec.encodeTextured(3L + 256L * 9, 32, 48))
    val c = codec.dhash(codec.encodeTextured(4L, 32, 48))
    assert(a == b && a != c)
    assert(a.length == 16 && a.matches("[0-9a-f]{16}"))
    // hand-replay of the arithmetic the oracle uses, against the codec
    // output for one image: proves the JVM path (encode → PNG bytes →
    // decode → integer luma → 9x8 pool → gradient bits) computes the
    // same function as the formula
    val (w, h, v) = (32, 48, 3)
    val sums = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    for (y <- 0 until h; x <- 0 until w) {
      val t = (x * 31 + y * 17 + v * 97) % 256
      sums(y * 8 / h)(x * 9 / w) += t
      counts(y * 8 / h)(x * 9 / w) += 1
    }
    val expect = (0 until 8).map { cy =>
      val byte = (0 until 8).foldLeft(0) { (acc, cx) =>
        if (sums(cy)(cx) / counts(cy)(cx) >
            sums(cy)(cx + 1) / counts(cy)(cx + 1)) acc | (1 << cx) else acc
      }
      f"$byte%02x"
    }.mkString
    assert(a == expect)
  }

  test("decodePartitions: typed output matches the driver-side stub decoder") {
    val rows = Seq((10L, "abc"), (11L, "defgh"))
    val df = rows.toDF("doc_id", "text")
      .select($"doc_id", MultiModal.textAsBlob($"text").as("blob"))
    val got = MultiModal.decodePartitions(df, "doc_id", "blob")
      .collect().map(m => m.id -> m).toMap
    val dec = new MultiModal.StubDecoder
    rows.foreach { case (id, text) =>
      assert(got(id) == dec.decode(id, text.getBytes("UTF-8")))
    }
  }
}
