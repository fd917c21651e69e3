package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  test("binary payload plumbing: schema, decode stub, determinism") {
    val df = Seq((1L, "hello world"), (2L, "")).toDF("id", "txt")
    val media = Multimodal.asMedia(df, "id", "txt", "image")
    assert(media.schema("payload").dataType.typeName == "binary")
    val decoded = Multimodal.decodeStub(media).collect().sortBy(_.id)
    assert(decoded.length == 2)
    assert(decoded(0).feature.length == 16)
    assert(math.abs(decoded(0).feature.sum - 1f) < 1e-5)
    assert(decoded(1).feature.sum == 0f) // empty payload
    // deterministic: same payload → same decode
    val again = Multimodal.decodeStub(media).collect().sortBy(_.id)
    assert(decoded.map(d => (d.width, d.height, d.nFrames)).toSeq ==
      again.map(d => (d.width, d.height, d.nFrames)).toSeq)
  }

  test("resize: nearest-neighbor downsample of a known 4x4 grid") {
    // 4x4 grid 0..15; 2x2 nearest-neighbor keeps rows/cols 0 and 2
    val grid = Array.tabulate[Byte](16)(_.toByte)
    val media = Seq(MediaRow(1L, "image", grid, Map.empty)).toDS()
    val out = Multimodal.resize(media, srcW = 4, srcH = 4, targetW = 2, targetH = 2)
      .collect().head
    assert((out.width, out.height) == (2, 2))
    assert(out.pixels.toSeq == Seq[Byte](0, 2, 8, 10))
    // upsample replicates source pixels
    val up = Multimodal.resize(media, 4, 4, 8, 8).collect().head
    assert(up.pixels.length == 64)
    assert(up.pixels(0) == 0 && up.pixels(1) == 0 && up.pixels(2) == 1)
    // short payload pads with zeros instead of failing
    val shortM = Seq(MediaRow(2L, "image", Array[Byte](7), Map.empty)).toDS()
    val padded = Multimodal.resize(shortM, 4, 4, 2, 2).collect().head
    assert(padded.pixels.toSeq == Seq[Byte](7, 0, 0, 0))
  }

  test("media near-dup: duplicate payload ranks first at cosine 1, disjoint ranges score 0") {
    // q151's composition on crafted media: doc 10 duplicates doc 1's
    // payload byte-for-byte; doc 11's bytes live in a disjoint histogram
    // range (low nibbles vs high nibbles), so its feature is orthogonal
    val lo = Array.tabulate[Byte](64)(i => (i % 16).toByte)         // bins 0
    val hi = Array.tabulate[Byte](64)(i => (0xF0 | (i % 16)).toByte) // bin 15
    val rows = Seq((1L, lo), (10L, lo.clone()), (11L, hi))
      .toDF("id", "payload")
      .select($"id", lit("image").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val feats = Multimodal.decodeStub(rows).toDF().select($"id", $"feature")
    val nn = graft.functions.VectorOps.annBruteForce(
        feats, "id", "feature", feats.filter($"id" === 1L), "id", "feature", k = 3)
      .filter($"id" =!= $"qid")
      .orderBy($"cos".desc, $"id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(nn.head == ((1L, 10L, 1.0)), s"duplicate payload must rank first: $nn")
    assert(nn.last._2 == 11L && math.abs(nn.last._3) < 1e-9,
      s"disjoint byte ranges must be orthogonal: $nn")
  }

  // --- real codec path: JDK ImageIO, no new dependencies -------------

  /** Encode a grayscale grid (r=g=b=v, so BT.601 luma == v exactly) as
    * real `format` bytes via ImageIO.write.
    */
  private def encodeGray(w: Int, h: Int, v: (Int, Int) => Int, format: String): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = v(x, y) & 0xFF
      bi.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, format, bos), s"no $format writer")
    bos.toByteArray
  }

  test("decodeImage: REAL PNG/BMP bytes decode to true dimensions and luma features") {
    val png = encodeGray(4, 4, (x, y) => (y * 4 + x) * 16, "png")
    val bmp = encodeGray(6, 3, (x, y) => x * 40 + y, "bmp")
    val corrupt = Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte) // no magic bytes
    val rows = Seq((1L, png), (2L, bmp), (3L, corrupt)).toDF("id", "payload")
      .select($"id", lit("image").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val out = Multimodal.decodeImage(rows).collect().sortBy(_.id)
    // corrupt payload dropped, never a task failure
    assert(out.map(_.id).toSeq == Seq(1L, 2L))
    assert((out(0).width, out(0).height, out(0).nFrames) == ((4, 4, 1)))
    assert((out(1).width, out(1).height) == ((6, 3)))
    // luma grid round-trips exactly for lossless codecs → the feature is
    // the byte histogram of the ORIGINAL gray values
    val expected = Multimodal.byteHistogram(
      Array.tabulate[Byte](16)(i => (i * 16).toByte))
    assert(out(0).feature.toSeq == expected.toSeq)
  }

  test("decodeImageGrid → resizeGrid: the real chain decode → resize → featurize") {
    // 4x4 gray ramp 0,16,...,240 written as PNG; decoded luma must equal
    // the source grid bit-for-bit, and the 2x2 nearest-neighbor resample
    // keeps rows/cols 0 and 2 (same contract the stub-grid resize test pins)
    val png = encodeGray(4, 4, (x, y) => (y * 4 + x) * 16, "png")
    val rows = Seq((1L, png)).toDF("id", "payload")
      .select($"id", lit("image").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val grid = Multimodal.decodeImageGrid(rows).collect().head
    assert((grid.width, grid.height) == ((4, 4)))
    assert(grid.pixels.toSeq == (0 until 16).map(i => (i * 16).toByte).toSeq)
    val small = Multimodal.resizeGrid(Multimodal.decodeImageGrid(rows), 2, 2)
      .collect().head
    assert((small.width, small.height) == ((2, 2)))
    assert(small.pixels.toSeq == Seq(0, 2, 8, 10).map(i => (i * 16).toByte))
    // per-row dimensions: a second image with different w/h resizes in the
    // same pass (the variable-input contract resize() can't express)
    val bmp = encodeGray(8, 2, (x, y) => 255, "bmp")
    val both = Seq((1L, png), (2L, bmp)).toDF("id", "payload")
      .select($"id", lit("image").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val resized = Multimodal.resizeGrid(Multimodal.decodeImageGrid(both), 2, 2)
      .collect().sortBy(_.id)
    assert(resized.forall(r => r.pixels.length == 4))
    assert(resized(1).pixels.toSeq == Seq[Byte](-1, -1, -1, -1)) // 255 everywhere
  }

  // --- real audio path: javax.sound.sampled, no new dependencies -----

  /** Hand-rolled RIFF/WAVE PCM16 little-endian bytes — byte-exact and
    * writer-independent (no AudioSystem.write round-trip in the input
    * path), `samples` interleaved by channel.
    */
  private def wavBytes(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("decodeWav: REAL WAV bytes decode to true rate/channels, exact stats, stereo mixdown") {
    // mono: deterministic sawtooth-ish integer wave with known crossings
    val monoSamples = Array.tabulate[Short](480)(i => (((i * 37) % 200 - 100) * 60).toShort)
    val mono = wavBytes(8000, 1, monoSamples)
    // stereo: L and R differ; mixdown is the truncating integer average
    val l = Array.tabulate(100)(i => (i * 11 - 550).toShort)
    val r = Array.tabulate(100)(i => (400 - i * 7).toShort)
    val stereo = wavBytes(44100, 2,
      Array.tabulate[Short](200)(i => if (i % 2 == 0) l(i / 2) else r(i / 2)))
    val corrupt = Array.tabulate[Byte](64)(i => (i * 13 + 7).toByte)
    val rows = Seq((1L, mono), (2L, stereo), (3L, corrupt)).toDF("id", "payload")
      .select($"id", lit("audio").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val out = Multimodal.decodeWav(rows).collect().sortBy(_.id)
    assert(out.map(_.id).toSeq == Seq(1L, 2L), "corrupt payload must drop, not fail")

    val m = out(0)
    assert((m.sampleRate, m.channels, m.nSamples) == ((8000, 1, 480)))
    val monoInts = monoSamples.map(_.toInt)
    assert(m.peak == monoInts.map(math.abs).max)
    val zc = monoInts.filter(_ != 0).map(Integer.signum)
      .sliding(2).count { case Array(a, b) => a != b; case _ => false }
    assert(m.zeroCrossings == zc, s"zero crossings ${m.zeroCrossings} != $zc")
    assert(m.feature.toSeq == Multimodal.amplitudeHistogram(monoInts).toSeq)
    assert(math.abs(m.feature.sum - 1f) < 1e-5)

    val st = out(1)
    assert((st.sampleRate, st.channels, st.nSamples) == ((44100, 2, 100)))
    val mixed = l.indices.map(i => (l(i).toInt + r(i).toInt) / 2).toArray
    assert(st.peak == mixed.map(math.abs).max,
      "stereo must mix down by the truncating channel average")
    assert(st.feature.toSeq == Multimodal.amplitudeHistogram(mixed).toSeq)
  }

  test("decodeWav: non-PCM container converts through the JDK codec chain (ULAW)") {
    // build a ULAW/8-bit stream via the JDK's own encoder, then decode:
    // proves the target-format conversion path, not just pass-through
    val pcm = Array.tabulate[Short](256)(i => ((i % 64 - 32) * 500).toShort)
    val src = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(wavBytes(8000, 1, pcm).drop(44)),
      new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false), 256)
    val ulaw = javax.sound.sampled.AudioSystem.getAudioInputStream(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, src)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ulaw,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val rows = Seq((1L, bos.toByteArray)).toDF("id", "payload")
      .select($"id", lit("audio").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val out = Multimodal.decodeWav(rows).collect()
    assert(out.length == 1)
    assert((out(0).sampleRate, out(0).channels, out(0).nSamples) == ((8000, 1, 256)))
    // ULAW is lossy — assert shape-level invariants, not exact samples
    assert(out(0).peak > 0 && out(0).zeroCrossings > 0)
    assert(math.abs(out(0).feature.sum - 1f) < 1e-5)
  }

  test("binaryFile source → decodeImage: the real media INGESTION rail end-to-end") {
    // how image corpora actually enter Spark: files on disk read via
    // the binaryFile source (path + modificationTime + length +
    // content), wrapped as media rows, decoded by the real codec path —
    // proving the source half of the multimodal pipeline, not just the
    // in-memory column plumbing
    withTempDir("graft_media") { tmp =>
      val dir = tmp.toFile
      val png1 = encodeGray(4, 2, (x, y) => (y * 4 + x) * 8, "png")
      val png2 = encodeGray(3, 3, (x, y) => x * 30, "png")
      java.nio.file.Files.write(new java.io.File(dir, "a.png").toPath, png1)
      java.nio.file.Files.write(new java.io.File(dir, "b.png").toPath, png2)
      java.nio.file.Files.write(new java.io.File(dir, "junk.png").toPath,
        Array.tabulate[Byte](16)(i => (i * 3).toByte)) // corrupt → dropped
      val files = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(dir.getAbsolutePath)
        .select(
          // deterministic id from the file name (paths carry the temp dir)
          xxhash64(element_at(split(input_file_name(), "/"), -1)).as("id"),
          element_at(split(input_file_name(), "/"), -1).as("name"),
          col("content"))
      val media = files
        .select(col("id"), lit("image").as("kind"),
          col("content").as("payload"),
          map(lit("file"), col("name")).as("meta"))
        .as[MediaRow]
      val out = Multimodal.decodeImage(media).collect()
      assert(out.length == 2, s"corrupt file must drop: ${out.toSeq}")
      assert(out.map(d => (d.width, d.height)).toSet == Set((4, 2), (3, 3)),
        s"true dimensions from disk bytes: ${out.toSeq}")
    }
  }

  test("sampleFrames chunks the payload at stride") {
    val payload = Array.tabulate[Byte](100)(_.toByte)
    val df = Seq(Tuple1(payload)).toDF("p")
    val frames = df.select(Multimodal.sampleFrames($"p", frameSize = 10, stride = 2))
      .as[Seq[Array[Byte]]].head()
    assert(frames.length == 5) // offsets 0,20,40,60,80
    assert(frames.head.toSeq == (0 until 10).map(_.toByte))
    assert(frames(1).toSeq == (20 until 30).map(_.toByte))
  }

  test("dHash: identical under re-encode and global brightening; far from unrelated noise (real PNGs)") {
    // a horizontal ramp (strong left-to-right gradients), the same ramp
    // brightened by +40 (clamped well below saturation), and blocky
    // noise with inverted gradients
    val ramp = encodeGray(32, 32, (x, _) => x * 6, "png")
    val bright = encodeGray(32, 32, (x, _) => x * 6 + 40, "png")
    val noise = encodeGray(32, 32, (x, y) => 255 - ((x * 37 + y * 91) % 17) * 15, "png")
    val rows = Seq((1L, ramp), (2L, bright), (3L, noise))
      .toDF("id", "payload")
      .select($"id", lit("image").as("kind"), $"payload",
        map(lit("source"), lit("spec")).as("meta"))
      .as[MediaRow]
    val hs = Multimodal.dHash(Multimodal.decodeImageGrid(rows))
      .collect().map(h => h.id -> h.dhash).toMap
    assert(hs(1L) == hs(2L),
      s"global brightening must preserve gradient signs: $hs")
    // the pure ramp sets every horizontal-gradient bit
    assert(hs(1L) == -1L, s"ramp must hash to all-ones: ${hs(1L)}")
    val hamming = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    assert(hamming > 16, s"unrelated noise landed too close: $hamming bits")
    // determinism across re-decode of the same bytes
    val again = Multimodal.dHash(Multimodal.decodeImageGrid(rows))
      .collect().map(h => h.id -> h.dhash).toMap
    assert(again == hs)
  }
}
