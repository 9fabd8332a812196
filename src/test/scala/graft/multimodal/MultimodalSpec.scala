package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "hello world"),
    (2L, "a" * 1000),
    (3L, "xyz")).toDF("doc_id", "text")

  test("fromStrings: media schema with binary payload + metadata") {
    val m = Multimodal.fromStrings(docs, "doc_id", "text")
    assert(m.schema == Multimodal.mediaSchema)
    val r = m.filter(col("media_id") === 2L).collect()(0)
    assert(r.getAs[Long]("n_bytes") == 1000L)
    assert(r.getAs[Array[Byte]]("payload").length == 1000)
  }

  // The codec-stub INTERFACE CONTRACT, pinned so a real-codec swap has
  // a frozen harness to pass (VERDICT r8 item 6): the stub is the
  // fallback branch of the decode/resample dispatch (images now decode
  // for REAL via the JDK codecs — see the real-codec tests below; no
  // audio/video libs exist in this container), and its properties —
  // determinism, partitioning-invariance, dims as a pure function of
  // payload size, fixed feature width — are the properties the m-rows'
  // oracles and the downstream LSH/CC stages assume of ANY decoder
  // behind the dispatch.
  test("codec stub contract: deterministic, partitioning-invariant, size-classed dims, fixed widths") {
    val p1 = "the quick brown fox".getBytes("UTF-8")
    val p2 = "THE QUICK BROWN FOX".getBytes("UTF-8") // same length, other bytes
    // determinism: repeated decode/resize of the same payload is bit-identical
    val d1a = Multimodal.decodeStub(p1)
    val d1b = Multimodal.decodeStub(p1)
    assert(d1a._1 == d1b._1 && d1a._2 == d1b._2 && d1a._3 == d1b._3 &&
      d1a._4.toSeq == d1b._4.toSeq)
    assert(Multimodal.resizeStub(p1, 4, 4).toSeq == Multimodal.resizeStub(p1, 4, 4).toSeq)
    // size-class stability: (width, height, n_frames) depend only on
    // payload LENGTH — the property m06's size census plans shards by
    val d2 = Multimodal.decodeStub(p2)
    assert((d1a._1, d1a._2, d1a._3) == (d2._1, d2._2, d2._3),
      "equal-length payloads must land in the same size class")
    // fixed output widths: 16-dim feature, w×h resize grid — schema
    // stability regardless of input size
    assert(d1a._4.length == 16)
    assert(Multimodal.decodeStub(Array.emptyByteArray)._4.length == 16)
    assert(Multimodal.resizeStub(p1, 4, 4).length == 16)
    assert(Multimodal.resizeStub(Array.emptyByteArray, 4, 4).length == 16)
    // partitioning-invariance: the mapPartitions transform yields the
    // same rows under any partition carve (one decoder init per
    // partition must not leak state across rows)
    val m = Multimodal.fromStrings(docs, "doc_id", "text").as[Multimodal.MediaRow]
    def run(parts: Int) =
      Multimodal.extractFeatures(m.repartition(parts))
        .collect().sortBy(_.media_id)
        .map(f => (f.media_id, f.width, f.height, f.n_frames, f.feature.toSeq)).toSeq
    assert(run(1) == run(7))
  }

  test("extractFeatures: mapPartitions batch decode with stub codec") {
    val m = Multimodal.fromStrings(docs, "doc_id", "text").as[Multimodal.MediaRow]
    val f = Multimodal.extractFeatures(m).collect().sortBy(_.media_id)
    assert(f.length == 3)
    assert(f.forall(_.feature.length == 16))
    // deterministic stub: same payload -> same features
    val (w, h, n, feat) = Multimodal.decodeStub("hello world".getBytes("UTF-8"))
    assert(f(0).width == w && f(0).height == h && f(0).n_frames == n)
    assert(f(0).feature.toSeq == feat.toSeq)
  }

  test("frameSample: fixed-stride binary windows, empties dropped") {
    val m = Multimodal.fromStrings(docs, "doc_id", "text")
    val frames = Multimodal.frameSample(m, k = 4, frameBytes = 5)
    assert(frames.schema("frame").dataType == BinaryType)
    val forDoc1 = frames.filter(col("media_id") === 1L)
      .orderBy("frame_idx").collect()
    // "hello world" = 11 bytes -> 3 non-empty windows of 5
    assert(forDoc1.length == 3)
    assert(new String(forDoc1(0).getAs[Array[Byte]]("frame"), "UTF-8") == "hello")
    assert(new String(forDoc1(2).getAs[Array[Byte]]("frame"), "UTF-8") == "d")
  }

  test("resize: schema-stable fixed grid regardless of payload size") {
    val m = Multimodal.fromStrings(docs, "doc_id", "text")
      .as[Multimodal.MediaRow]
    val out = Multimodal.resize(m, 4, 2).collect().sortBy(_.media_id)
    assert(out.length == 3)
    // every output is exactly w*h wide, whether the payload is 3 bytes
    // or 1000 - the schema-stability property a training pipeline needs
    assert(out.forall(r => r.pixels.length == 8 && r.target_w == 4 && r.target_h == 2))
    // deterministic: pooling the constant payload gives the constant pixel
    val allA = out.find(_.media_id == 2L).get
    assert(allA.pixels.forall(p => math.abs(p - ('a' & 0xff) / 255.0f) < 1e-6))
    // stub agrees with a direct call
    assert(out.find(_.media_id == 1L).get.pixels.toSeq ==
      Multimodal.resizeStub("hello world".getBytes("UTF-8"), 4, 2).toSeq)
  }

  test("multimodal -> ANN hand-off: resized features bucket duplicate payloads together") {
    import graft.functions.VecFns
    // resize to 8x8 = 64 dims, the LshDim the sign-LSH hyperplanes expect:
    // the full near-dup path a media pipeline runs — decode/resize ->
    // feature vector -> LSH bucket -> in-bucket exact cosine
    val media = Multimodal.fromStrings(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "completely different content in this one, nothing shared at all"))
      .toDF("doc_id", "text"), "doc_id", "text").as[Multimodal.MediaRow]
    val v = Multimodal.resize(media, 8, 8).toDF()
      .select(col("media_id"),
        VecFns.l2normalize(VecFns.toDouble(col("pixels"))).as("e"))
      .withColumn("bucket", VecFns.lshBucket(col("e")))
    val a = v.select(col("media_id").as("ma"), col("bucket"), col("e").as("ea"))
    val b = v.select(col("media_id").as("mb"), col("bucket"), col("e").as("eb"))
    val pairs = a.join(b, Seq("bucket")).filter(col("ma") < col("mb"))
      .select(col("ma"), col("mb"), VecFns.dotSeq(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") > 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)), s"only the duplicate payloads pair up; got $pairs")
  }

  test("repartitionBySize: partitioning survives with all rows intact") {
    val m = Multimodal.fromStrings(docs, "doc_id", "text")
    val rep = Multimodal.repartitionBySize(m, 4)
    assert(rep.count() == 3)
    assert(rep.rdd.getNumPartitions == 4)
  }

  // render an image in-test via the same JDK raster the codec reads back
  private def imageBytes(fmt: String, w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real JDK image codec: PNG/JPEG decode real dims + luminance histogram; text routes to the stub") {
    val gray = 0x808080 // Rec.601 luma 128 -> histogram bin 8
    val png = imageBytes("png", 20, 10)((_, _) => gray)
    val (w, h, f, hist) = Multimodal.decodeImage(png).get
    assert((w, h, f) == (20, 10, 1), "real decoded dimensions, not size-class fakes")
    assert(math.abs(hist.sum - 1.0f) < 1e-6, "histogram is normalized")
    assert(hist(8) == 1.0f, "uniform gray concentrates in one luma bin")
    // JPEG: lossy, but dims are exact and the histogram stays normalized
    val jpg = imageBytes("jpg", 8, 6)((_, _) => gray)
    val (wj, hj, fj, histJ) = Multimodal.decodeImage(jpg).get
    assert((wj, hj, fj) == (8, 6, 1))
    assert(math.abs(histJ.sum - 1.0f) < 1e-6)
    // dispatch: text bytes take the stub branch bit-identically
    // (encode(text,'UTF-8') can never lead with 0x89/0xFF — the gate
    // that keeps the m-row oracles exact), image bytes the real branch
    val txt = "hello world".getBytes("UTF-8")
    val ds = Multimodal.decodeStub(txt)
    val dd = Multimodal.decode(txt)
    assert((dd._1, dd._2, dd._3, dd._4.toSeq) == (ds._1, ds._2, ds._3, ds._4.toSeq))
    assert(Multimodal.decode(png)._1 == 20)
    // printable pseudo-magics (GIF8/BM text) never reach ImageIO
    assert(Multimodal.decodeImage("GIF87a not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage("BM headerish text".getBytes("UTF-8")).isEmpty)
    // a corrupt payload behind a real PNG magic fails CLEANLY to the stub
    val corrupt = png.take(8) ++ Array.fill[Byte](16)(0x42)
    assert(Multimodal.decodeImage(corrupt).isEmpty)
    assert(Multimodal.decode(corrupt)._4.length == 16)
    // end-to-end: a MIXED corpus through the same mapPartitions plumbing
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", png, "image/png", png.length.toLong),
      Multimodal.MediaRow(2L, "image", txt, "application/octet-stream", txt.length.toLong))
    val out = Multimodal.extractFeatures(rows.toDS()).collect().sortBy(_.media_id)
    assert(out(0).width == 20 && out(0).height == 10, "image row decoded for real")
    assert(out(1).width == ds._1 && out(1).feature.toSeq == ds._4.toSeq,
      "non-image row fell back to the stub")
  }

  test("corrupt payloads behind a real image magic survive the TASK path: extractFeatures degrades to the stub (VERDICT r11 #4)") {
    // the NonFatal hardening's missing spec: a malformed PNG that passes
    // the magic-byte gate must not fail the Spark task — the decode
    // falls back to the stub INSIDE mapPartitions and the job completes.
    // Three corruption shapes: a real PNG truncated mid-stream (the
    // torn-object-store-read case), magic bytes + crafted garbage (the
    // adversarial-corpus case), and magic bytes alone (the degenerate
    // 8-byte file). ImageIO throws unchecked (not just IOException) on
    // some of these — exactly what the NonFatal catch is for.
    val png = Multimodal.renderTestCard(7L, 16, 12)
    val truncated = png.take(png.length / 2)
    val crafted = png.take(8) ++ Array.fill[Byte](64)(0x42)
    val magicOnly = png.take(8)
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", truncated, "image/png", truncated.length.toLong),
      Multimodal.MediaRow(2L, "image", crafted, "image/png", crafted.length.toLong),
      Multimodal.MediaRow(3L, "image", magicOnly, "image/png", magicOnly.length.toLong),
      // one healthy row in the same partition: a corrupt neighbor must
      // not poison the batch
      Multimodal.MediaRow(4L, "image", png, "image/png", png.length.toLong))
    // coalesce(1): all four payloads through ONE task — the survival claim
    val out = Multimodal.extractFeatures(rows.toDS().coalesce(1))
      .collect().sortBy(_.media_id)
    assert(out.length == 4, "the task must survive every corrupt payload")
    Seq(0, 1, 2).foreach { i =>
      val stub = Multimodal.decodeStub(rows(i).payload)
      assert((out(i).width, out(i).height, out(i).feature.toSeq) ==
        (stub._1, stub._2, stub._4.toSeq),
        s"corrupt payload ${i + 1} must degrade to the stub")
    }
    assert(out(3).width == 16 && out(3).height == 12,
      "the healthy row must still decode for real")
  }

  test("renderTestCard: a NEGATIVE seed still yields valid gray levels (floorMod, ADVICE r10)") {
    // Scala % is sign-of-dividend: (-5*31 + 0 + 0) % 256 would be
    // negative and pack garbage RGB; floorMod keeps g in [0, 256).
    // The ledger must replay the floorMod formula exactly.
    val (w, h) = (6, 5)
    val png = Multimodal.renderTestCard(-5L, w, h)
    val (dw, dh, sum) = Multimodal.decodeLumaLedger(png).get
    assert((dw, dh) == (w, h))
    val want = (for (y <- 0 until h; x <- 0 until w)
      yield java.lang.Math.floorMod(-5L * 31 + x * 7 + y * 13, 256L)).sum
    assert(sum == want, s"negative-seed ledger must replay floorMod: $sum vs $want")
    // non-negative seeds are unchanged (the m07/m08 oracle contract)
    val (_, _, s7) = Multimodal.decodeLumaLedger(
      Multimodal.renderTestCard(7L, w, h)).get
    val want7 = (for (y <- 0 until h; x <- 0 until w)
      yield (7L * 31 + x * 7 + y * 13) % 256).sum
    assert(s7 == want7)
  }

  test("real JDK image resample: fixed grid from a raster scale; stub fallback for text") {
    val png = imageBytes("png", 16, 16)((x, _) => if (x < 8) 0x000000 else 0xffffff)
    val grid = Multimodal.resizeImage(png, 4, 4).get
    assert(grid.length == 16)
    assert(grid.forall(v => v >= 0f && v <= 1f))
    assert(grid(0) < 0.2f && grid(3) > 0.8f,
      "left half stays dark, right half stays bright through the scale")
    // uniform image -> uniform grid (no raster-position artifacts)
    val uni = Multimodal.resizeImage(
      imageBytes("png", 9, 7)((_, _) => 0x808080), 4, 4).get
    assert(uni.forall(v => math.abs(v - uni(0)) < 1e-6))
    // dispatch: text falls back to the stub pool bit-identically
    val txt = "hello world".getBytes("UTF-8")
    assert(Multimodal.resample(txt, 4, 2).toSeq ==
      Multimodal.resizeStub(txt, 4, 2).toSeq)
    // the Dataset resize path routes image rows through the real branch
    val rows = Seq(Multimodal.MediaRow(1L, "image", png, "image/png", png.length.toLong))
    val r = Multimodal.resize(rows.toDS(), 4, 4).collect()(0)
    assert(r.pixels.toSeq == grid.toSeq)
  }

  test("real JDK audio codec: WAV round-trip is sample-exact; kind-aware dispatch; corrupt WAV degrades to the stub") {
    // 1. PCM losslessness: the REAL encoder (AudioSystem.write) and the
    //    REAL decoder must round-trip the generation formula exactly —
    //    including a NEGATIVE seed (the renderTestCard floorMod rule)
    for (seed <- Seq(0L, 7L, -5L); n <- Seq(1, 3, 256)) {
      val wav = Multimodal.renderAudioCard(seed, n)
      val (rate, nS, amp) = Multimodal.decodeAmpLedger(wav).get
      assert(rate == 8000 && nS == n.toLong)
      val want = (0 until n)
        .map(i => java.lang.Math.floorMod(seed * 31 + i.toLong * 7, 65536L)).sum
      assert(amp == want, s"seed=$seed n=$n: ledger must replay the PCM formula")
    }
    // 2. decodeAudio: real metadata + normalized amplitude histogram
    val wav = Multimodal.renderAudioCard(7L, 512)
    val (rate, ch, frames, hist) = Multimodal.decodeAudio(wav).get
    assert((rate, ch, frames) == (8000, 1, 512), "real decoded audio shape")
    assert(math.abs(hist.sum - 1.0f) < 1e-6, "histogram is normalized")
    // 3. kind-aware dispatch: audio rows with a real WAV decode for
    //    real; text payloads declared audio (the synthetic corpus)
    //    still take the stub; the image branch is untouched by kind
    val txt = "RIFF but not really".getBytes("UTF-8") // "RIFF" lead, no WAVE tag
    val stub = Multimodal.decodeStub(txt)
    val viaKind = Multimodal.decode("audio", txt)
    assert((viaKind._1, viaKind._2, viaKind._4.toSeq) ==
      (stub._1, stub._2, stub._4.toSeq),
      "a printable pseudo-magic must not reach the audio codec")
    assert(Multimodal.decode("audio", wav)._3 == 512, "declared-audio WAV decodes for real")
    val vid = Multimodal.decode("video", wav) // not declared audio, not an image
    val vstub = Multimodal.decodeStub(wav)
    assert((vid._1, vid._2, vid._3, vid._4.toSeq) ==
      (vstub._1, vstub._2, vstub._3, vstub._4.toSeq),
      "video stays on the stub even for a WAV payload")
    // 4. task survival (the image-codec contract, audio edition): a
    //    corrupt payload behind the full RIFF/WAVE gate degrades to the
    //    stub inside ONE mapPartitions task beside a healthy row
    val corrupt = wav.take(12) ++ Array.fill[Byte](32)(0x42)
    val truncated = wav.take(wav.length / 2)
    assert(Multimodal.decodeAmpLedger(corrupt).isEmpty)
    val rows2 = Seq(
      Multimodal.MediaRow(1L, "audio", corrupt, "audio/wav", corrupt.length.toLong),
      Multimodal.MediaRow(2L, "audio", truncated, "audio/wav", truncated.length.toLong),
      Multimodal.MediaRow(3L, "audio", wav, "audio/wav", wav.length.toLong))
    val out = Multimodal.extractFeatures(rows2.toDS().coalesce(1))
      .collect().sortBy(_.media_id)
    assert(out.length == 3, "the task must survive corrupt WAV payloads")
    val cs = Multimodal.decodeStub(corrupt)
    assert((out(0).width, out(0).feature.toSeq) == (cs._1, cs._4.toSeq),
      "corrupt WAV must degrade to the stub")
    assert(out(2).width == 8000 && out(2).n_frames == 512,
      "the healthy WAV row must still decode for real")
  }

  test("real (codec-less) video: uncompressed AVI container round-trip is byte-exact; corrupt AVI degrades to the stub") {
    // 1. container round-trip: write via renderVideoCard, parse via the
    //    RIFF walk; each frame's luma ledger must replay the generation
    //    formula exactly (incl. a negative seed)
    for (seed <- Seq(0L, 9L, -3L); nf <- Seq(1, 2, 5)) {
      val avi = Multimodal.renderVideoCard(seed, 8, 6, nf)
      val (w, h, ledgers) = Multimodal.decodeVideoFrames(avi).get
      assert((w, h, ledgers.length) == (8, 6, nf), "real parsed dims + frame count")
      for (f <- 0 until nf) {
        val want = (for (y <- 0 until 6; x <- 0 until 8)
          yield java.lang.Math.floorMod(seed * 31 + x * 7 + y * 13 + f * 17, 256L)).sum
        assert(ledgers(f) == want,
          s"seed=$seed frame=$f: ledger must replay the formula")
      }
    }
    // 2. dispatch: declared-video AVI decodes for real; text payloads
    //    declared video still stub; audio/image branches unaffected
    val avi = Multimodal.renderVideoCard(4L, 8, 4, 3)
    assert(Multimodal.decode("video", avi)._3 == 3, "declared-video AVI parses for real")
    val txt = "RIFFxxxxAVI but text".getBytes("UTF-8") // no exact 'AVI ' tag at 8
    val stub = Multimodal.decodeStub(txt)
    val viaKind = Multimodal.decode("video", txt)
    assert((viaKind._1, viaKind._2, viaKind._4.toSeq) ==
      (stub._1, stub._2, stub._4.toSeq))
    // 3. honesty boundary: a COMPRESSED-flavored AVI (biCompression
    //    != 0) must refuse the real branch — no byte-order guessing
    val compressed = avi.clone()
    // strf's biCompression field: locate the 'strf' tag and poke it
    val strfAt = avi.indices.find(i => i + 4 <= avi.length &&
      new String(avi, i, 4, "US-ASCII") == "strf").get
    compressed(strfAt + 8 + 16) = 1 // BI_RLE8
    assert(Multimodal.decodeVideoFrames(compressed).isEmpty,
      "compressed video must fall back, not guess")
    // 4. task survival: truncated container + short frame data beside a
    //    healthy row, one task
    val truncated = avi.take(avi.length / 2)
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", truncated, "video/avi", truncated.length.toLong),
      Multimodal.MediaRow(2L, "video", compressed, "video/avi", compressed.length.toLong),
      Multimodal.MediaRow(3L, "video", avi, "video/avi", avi.length.toLong))
    val out = Multimodal.extractFeatures(rows.toDS().coalesce(1))
      .collect().sortBy(_.media_id)
    assert(out.length == 3, "the task must survive corrupt AVI payloads")
    val ts = Multimodal.decodeStub(truncated)
    assert((out(0).width, out(0).feature.toSeq) == (ts._1, ts._4.toSeq),
      "truncated AVI must degrade to the stub")
    assert(out(2).width == 8 && out(2).n_frames == 3,
      "the healthy AVI row must still parse for real")
  }

  test("adversarial AVI chunk sizes cannot stall or crash the walk (negative size, nested-LIST tower)") {
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // a chunk size of -8 makes the naive stride 8 + sz + (sz & 1) == 0:
    // without the sz < 0 bail this loops FOREVER (no exception for
    // NonFatal to catch) — the review finding this test pins
    val negSize = cc("RIFF") ++ le32(64) ++ cc("AVI ") ++
      cc("JUNK") ++ le32(-8) ++ Array.fill[Byte](32)(0)
    assert(Multimodal.decodeVideoFrames(negSize).isEmpty,
      "a negative chunk size must refuse the parse, not spin")
    // a tower of nested LIST chunks recurses once per level: without
    // the depth bound a crafted payload StackOverflows — a
    // VirtualMachineError NonFatal does NOT catch, killing the task
    val depth = 5000
    val tower = cc("RIFF") ++ le32(8 + depth * 12) ++ cc("AVI ") ++
      (0 until depth).toArray.flatMap(i =>
        cc("LIST") ++ le32((depth - i) * 12 - 8) ++ cc("hdrl"))
    assert(Multimodal.decodeVideoFrames(tower).isEmpty,
      "a nested-LIST tower must hit the depth bound, not the stack limit")
  }
}
