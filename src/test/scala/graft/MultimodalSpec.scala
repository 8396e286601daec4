package graft

import graft.operators.Multimodal

/** Multimodal plumbing specs: binary schema, frame math, decode stub
  * determinism.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val payload200 = "x" * 200
  private def docs = Seq((0L, payload200), (1L, "short")).toDF("doc_id", "text")

  test("asBlobs produces binary payload with typed metadata") {
    val b = Multimodal.asBlobs(docs)
    assert(b.schema("payload").dataType.typeName == "binary")
    val r = b.filter($"doc_id" === 0L).select($"meta.n_bytes", $"meta.content_type").head()
    assert(r.getLong(0) == 200L)
    assert(r.getString(1) == "text/plain")
  }

  test("ImageIO runs memory-cached on the JVM that decodes (r18 pin: " +
    "the r17 disk-cache fix cannot silently revert)") {
    // drive a real codec map so Multimodal's lazy per-JVM flip runs
    // on an executor thread, then read the static back FROM A TASK —
    // in local mode executor and driver share the JVM, so this pins
    // exactly what a cluster executor would see after its first row
    val png = Multimodal.synthPngCorpus((0L until 2L).toDF("doc_id"))
    assert(Multimodal.decodeImageStats(png).count() == 2L)
    val onExecutor = spark.range(1)
      .mapPartitions(_.map(_ => javax.imageio.ImageIO.getUseCache))
      .collect()
    assert(onExecutor.forall(_ == false),
      "ImageIO.getUseCache must be false wherever codec rows run — " +
        "the disk-backed default taxed every image key 2-4x (r17)")
  }

  test("blobStats: sizes, sha256, magic bytes") {
    val r = Multimodal.blobStats(docs).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(0L).getAs[Long]("n_bytes") == 200L)
    assert(r(1L).getAs[Long]("n_bytes") == 5L)
    assert(r(1L).getAs[String]("magic_hex") == "73686F72") // "shor"
    assert(r(0L).getAs[String]("sha256").length == 64)
  }

  test("frameSample chunk math: count, offsets, tail frame length") {
    // 200 bytes, stride 128, frame 64 → frames at 0 (len 64) and 128 (len 64)
    val f = Multimodal.frameSample(docs, frameSize = 64, stride = 128)
      .filter($"doc_id" === 0L).collect()
      .map(r => (r.getAs[Long]("frame_idx"), r.getAs[Long]("byte_offset"),
        r.getAs[Long]("frame_len")))
      .sortBy(_._1)
    assert(f.toSeq == Seq((0L, 0L, 64L), (1L, 128L, 64L)))
    // short doc: one frame, truncated to payload size
    val s = Multimodal.frameSample(docs, frameSize = 64, stride = 128)
      .filter($"doc_id" === 1L).collect()
    assert(s.length == 1)
    assert(s(0).getAs[Long]("frame_len") == 5L)
  }

  test("frame tail shorter than frameSize is truncated not padded") {
    val d = Seq((0L, "a" * 150)).toDF("doc_id", "text")
    val f = Multimodal.frameSample(d, frameSize = 64, stride = 128).collect()
      .map(r => (r.getAs[Long]("frame_idx"), r.getAs[Long]("frame_len"))).sortBy(_._1)
    assert(f.toSeq == Seq((0L, 64L), (1L, 22L)))
  }

  test("decodeFrames: deterministic stub through the typed partition path") {
    val out1 = Multimodal.decodeFrames(docs).collect().sortBy(d => (d.doc_id, d.frame_idx))
    val out2 = Multimodal.decodeFrames(docs).collect().sortBy(d => (d.doc_id, d.frame_idx))
    assert(out1.toSeq == out2.toSeq)
    assert(out1.forall(d => d.width >= 16 && d.height >= 16))
    // all-'x' frame: mean luma is exactly 'x'.toInt
    assert(out1.find(d => d.doc_id == 0L && d.frame_idx == 0L).get.mean_luma == 'x'.toInt.toDouble)
  }

  test("pooledFeatures bridges binary payloads into the ANN operators") {
    val corpus = Multimodal.pooledFeatures(
      (0L until 20L).map(i => (i, s"payload $i ${"y" * (i.toInt * 13 % 97)}"))
        .toDF("doc_id", "text"))
      .select($"doc_id".as("vec_id"), $"embedding")
    assert(corpus.schema("embedding").dataType.simpleString == "array<float>")
    val queries = corpus.filter($"vec_id" < 3)
    val nn = graft.operators.Similarity.bruteForceTopK(corpus, queries, k = 3)
      .collect()
    assert(nn.length == 9, s"3 queries x k=3, got ${nn.length}")
    // a pooled embedding is deterministic: same input, same neighbors
    val nn2 = graft.operators.Similarity.bruteForceTopK(corpus, queries, k = 3)
      .collect()
    assert(nn.map(_.toSeq).toSet == nn2.map(_.toSeq).toSet)
  }

  test("blobNearDupPairs pairs re-encoded copies, not distinct payloads") {
    import org.apache.spark.sql.functions._
    val chunk = (c: Char) => c.toString * 128
    // doc 0 and 1 share 3 of their 4 chunks (one patched) → jaccard
    // 3/5; doc 2 is disjoint; every doc also carries a boilerplate
    // chunk shared by all three — df-capped out at maxDf=2, so it
    // can neither pair 2 with anyone nor inflate 0~1's score
    val boiler = chunk('z')
    val d = Seq(
      (0L, chunk('a') + chunk('b') + chunk('c') + boiler),
      (1L, chunk('a') + chunk('b') + chunk('d') + boiler),
      (2L, chunk('p') + chunk('q') + chunk('r') + boiler))
      .toDF("doc_id", "text")
    val out = Multimodal.blobNearDupPairs(d, frameSize = 128, stride = 128,
      tau = 0.3, maxDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set((0L, 1L)), s"only the near-copy pairs: $out")
    // shared = {a,b} (boiler is df-capped), sizes 4 and 4 → 2/6
    assert(out((0L, 1L)) == (2L, 0.333333), s"df-capped jaccard: $out")
  }

  test("blobDedupGroups chains re-encoded copies to the min-id cluster") {
    import org.apache.spark.sql.functions._
    val chunk = (c: Char) => c.toString * 128
    // chain: 0 ~ 1 (share a), 1 ~ 2 (share y) but 0 ∩ 2 = ∅ —
    // transitive closure must still cluster all three under 0;
    // doc 3 shares nothing and survives alone
    val d = Seq(
      (0L, chunk('a') + chunk('b')),
      (1L, chunk('a') + chunk('y')),
      (2L, chunk('z') + chunk('y')),
      (3L, chunk('p') + chunk('q')))
      .toDF("doc_id", "text")
    val groups = Multimodal.blobDedupGroups(d, frameSize = 128, stride = 128,
      tau = 0.3, maxDf = 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(groups(0L) == ((0L, true)) && groups(1L) == ((0L, false)) &&
      groups(2L) == ((0L, false)), s"chain closes to min id: $groups")
    assert(groups(3L) == ((3L, true)), s"isolated blob survives: $groups")
  }

  test("incrementalBlobPairs: only new-by-history pairs form") {
    // history 1, 2 are identical (old×old near-dups); new 10, 11 are
    // identical too (new×new) — NEITHER pair may emit, only the four
    // new×history combinations
    val history = Seq((1L, "aaaabbbbcccc"), (2L, "aaaabbbbcccc"))
      .toDF("doc_id", "text")
    val delta = Seq((10L, "aaaabbbbdddd"), (11L, "aaaabbbbdddd"),
      (12L, "eeeeffffgggg")) // unique new blob: no pairs
      .toDF("doc_id", "text")
    val got = Multimodal.incrementalBlobPairs(delta, history,
      frameSize = 4, stride = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == Set(
      (10L, 1L, 0.5), (10L, 2L, 0.5), (11L, 1L, 0.5), (11L, 2L, 0.5)),
      s"new-by-history pairs only: $got")
  }

  test("blobPolicy: rare formats drop, byte-dominant formats cap, rest keep") {
    // magic2 sniffs the first TWO bytes: "aa.." (3 blobs, dominant
    // bytes), "bb.." (3 small blobs), "cc" (1 blob → rare)
    val d = Seq(
      (1L, "aa" + "x" * 500), (2L, "aa" + "y" * 500), (3L, "aa" + "z" * 500),
      (4L, "bb1"), (5L, "bb2"), (6L, "bb3"),
      (7L, "cc"))
      .toDF("doc_id", "text")
    val got = Multimodal.blobPolicy(d, minCount = 3L, maxByteShare = 0.5)
      .collect().map(r => new String(
        java.util.HexFormat.of().parseHex(r.getString(0)),
        "US-ASCII") -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(got("aa") == ((3L, 1506L, "cap")), s"dominant format: $got")
    assert(got("bb") == ((3L, 9L, "keep")), s"normal format: $got")
    assert(got("cc") == ((1L, 2L, "drop")), s"rare format: $got")
    // shares sum to exactly 1 (exact-long divisions over one total)
    val shares = Multimodal.blobPolicy(d).collect().map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-12, s"share sum: ${shares.sum}")
  }

  test("dedupByType: dup ratio and reclaimable bytes per magic type") {
    val docs = Seq(
      (1L, "AAxxxx"), (2L, "AAxxxx"), (3L, "AAxxxx"), // type 'AA': 3 copies
      (4L, "AAyy"),                                    // type 'AA': unique
      (5L, "BBzz"), (6L, "BBzz"))                      // type 'BB': 2 copies
      .toDF("doc_id", "text")
    val got = Multimodal.dedupByType(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val aa = got("4141") // hex of "AA"
    assert(aa == ((4L, 2L, 0.5, 12L)),
      s"AA: two extra 6-byte copies reclaim 12: $aa")
    val bb = got("4242")
    assert(bb == ((2L, 1L, 0.5, 4L)), s"BB: one extra 4-byte copy: $bb")
  }

  test("formatPsi: stable mix reads ~0, a format swap between halves alarms") {
    // ids 1..4 are half A (mid = (1+8)/2 = 4), 5..8 half B
    val stable = Seq(
      (1L, "AAx"), (2L, "BBx"), (3L, "AAy"), (4L, "BBy"),
      (5L, "AAz"), (6L, "BBz"), (7L, "AAw"), (8L, "BBw"))
      .toDF("doc_id", "text")
    val calm = Multimodal.formatPsi(stable).collect()
      .map(r => r.getString(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    assert(calm.keySet == Set("4141", "4242"), s"formats: $calm")
    assert(calm.values.forall(v => math.abs(v._1) < 0.01),
      s"stable mix must not alarm: $calm")
    // half A all AA, half B all BB: both terms large and FINITE
    val swap = Seq(
      (1L, "AAx"), (2L, "AAy"), (3L, "AAz"), (4L, "AAw"),
      (5L, "BBx"), (6L, "BBy"), (7L, "BBz"), (8L, "BBw"))
      .toDF("doc_id", "text")
    val hot = Multimodal.formatPsi(swap).collect()
      .map(r => r.getString(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    assert(hot.values.forall(v => !v._1.isInfinite && !v._1.isNaN),
      s"smoothing must keep terms finite: $hot")
    assert(hot("4141")._2 > 1.0, s"swap must alarm: $hot")
    assert(hot("4141")._1 == hot("4242")._1, s"symmetric swap: $hot")
  }

  // ---- real ImageIO decode path (r10) --------------------------------

  private def pngBytes(pixels: Array[Array[Int]]): Array[Byte] = {
    val h = pixels.length; val w = pixels(0).length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeFrame: golden 2x2 PNG decodes to exact dims and Rec.601 luma") {
    // white, black / pure red, pure green
    val bytes = pngBytes(Array(
      Array(0xFFFFFF, 0x000000),
      Array(0xFF0000, 0x00FF00)))
    assert(Multimodal.isImageMagic(bytes), "PNG magic must be sniffed")
    val d = Multimodal.decodeFrame(Multimodal.Frame(7L, 0L, bytes))
    assert((d.width, d.height) == ((2, 2)), s"dims: $d")
    // luma: white 255, black 0, red .299·255, green .587·255
    val want = (255.0 * (1.0 + 0.299 + 0.587)) / 4.0
    assert(math.abs(d.mean_luma - want) < 1e-9, s"luma ${d.mean_luma} vs $want")
  }

  test("decodeFrame: non-image and corrupt payloads fall back to the stub") {
    val text = Multimodal.Frame(1L, 0L, "plain old text".getBytes("UTF-8"))
    assert(Multimodal.decodeFrame(text) == Multimodal.decodeStub(text),
      "text bytes must take the stub path unchanged")
    // valid PNG magic, garbage body: the router must not throw
    val corrupt = Multimodal.Frame(2L, 0L,
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 42, 42, 42))
    assert(Multimodal.decodeFrame(corrupt) == Multimodal.decodeStub(corrupt),
      "corrupt image must quarantine to the stub, not kill the pass")
  }

  test("decodeFrames router: PNG blobs pass whole and decode for real") {
    // a 3x5 PNG larger than one stride would slice — must stay whole.
    // Binary payloads enter via decodeFramesOfBlobs: the text
    // adapter's cast("binary") is UTF-8 and cannot carry image bytes.
    val png = pngBytes(Array.fill(5)(Array.fill(3)(0x808080)))
    val mixed = Seq(
      (10L, png),
      (11L, Array.fill(200)('t'.toByte))).toDF("doc_id", "payload")
    val out = Multimodal.decodeFramesOfBlobs(mixed, frameSize = 64, stride = 128)
      .collect().groupBy(_.doc_id)
    val img = out(10L)
    assert(img.length == 1, s"image blob must be ONE whole frame: ${img.toSeq}")
    assert((img.head.width, img.head.height) == ((3, 5)),
      s"real decoded dims: ${img.head}")
    assert(math.abs(img.head.mean_luma - 128.0) < 0.5,
      s"gray 0x80 luma ~128: ${img.head}")
    // the text doc still slices into stride frames on the stub path
    assert(out(11L).length == 2, s"text doc frames: ${out(11L).toSeq}")
  }

  test("synthPngCorpus -> decodeImageStats round trip matches the pixel recipe") {
    val docs = Seq((3L, "a"), (4L, "b")).toDF("doc_id", "text")
    val got = Multimodal.decodeImageStats(Multimodal.synthPngCorpus(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h
    }
    Seq(3L, 4L).foreach { d =>
      val hs = (0 until 64).map(i => fnv(s"$d:$i"))
      val want = (8, 8,
        hs.map(h => (h >>> 8) & 0xff).sum,
        hs.map(h => (h >>> 16) & 0xff).sum,
        hs.map(h => (h >>> 24) & 0xff).sum)
      assert(got(d) == want, s"doc $d: ${got(d)} vs $want — the real " +
        "PNG encode->decode round trip must be lossless")
    }
  }

  test("synthWavCorpus -> decodeAudioStats round trip matches the sample recipe") {
    val docs = Seq((3L, "a"), (4L, "b")).toDF("doc_id", "text")
    val blobs = Multimodal.synthWavCorpus(docs)
    // the payloads are genuine RIFF/WAVE containers
    val magics = blobs.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    magics.values.foreach(b =>
      assert(Multimodal.isWavMagic(b), "payload must carry RIFF/WAVE magic"))
    val got = Multimodal.decodeAudioStats(blobs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h
    }
    Seq(3L, 4L).foreach { d =>
      val vs = (0 until 64).map { i =>
        ((((fnv(s"$d:$i") >>> 8) & 0xffffL).toInt << 16) >> 16)
      }
      val want = (8000, 1, 64L, vs.map(_.toLong).sum,
        vs.map(v => math.abs(v).toLong).sum)
      assert(got(d) == want, s"doc $d: ${got(d)} vs $want — the real " +
        "WAV encode->decode round trip must be lossless")
    }
    // signedness sanity: the recipe produces both polarities, so a
    // decoder that zero-extended the high byte could not pass
    val anyNeg = Seq(3L, 4L).exists(d => got(d)._4 != got(d)._5)
    assert(anyNeg, "fixture must exercise negative samples")
  }

  test("audioFeatures: rms/peak/zero-crossings replay the decoded samples") {
    val docs = Seq((3L, "a"), (4L, "b")).toDF("doc_id", "text")
    val got = Multimodal.audioFeatures(Multimodal.synthWavCorpus(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toMap
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h
    }
    Seq(3L, 4L).foreach { d =>
      val vs = (0 until 64).map { i =>
        ((((fnv(s"$d:$i") >>> 8) & 0xffffL).toInt << 16) >> 16)
      }
      val sumSq = vs.map(v => v.toLong * v).sum
      val zc = vs.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
      val want = (64L, math.sqrt(sumSq.toDouble / 64),
        vs.map(v => math.abs(v).toLong).max, zc.toLong)
      assert(got(d) == want, s"doc $d: ${got(d)} vs $want")
    }
    // non-vacuity ACROSS the fixture: the FNV sample windows are
    // strongly correlated in i (doc 3 never changes sign; doc 4
    // does), so at least one doc must exercise the crossing counter
    assert(Seq(3L, 4L).map(d => got(d)._4).sum > 0,
      "fixture must exercise the zero-crossing path")
  }

  test("phashPairs: re-encoded copies pair perceptually; the chunk tier misses them") {
    val docs = (0L until 40L).toDF("doc_id")
    val blobs = Multimodal.synthMixedCorpus(docs).cache()
    // the BMP copies decode to the source's pixels (±1 on one channel)
    val pairs = Multimodal.phashPairs(SharedTrunks.pin(Multimodal.phashSignatures(blobs)))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.keySet == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)),
      s"exactly the planted copy pairs must match: ${pairs.keySet}")
    assert(pairs.values.forall(_ <= 2),
      s"a one-channel nudge flips at most the adjacent comparisons: $pairs")
    // the chunk tier CANNOT see these pairs: PNG original and BMP
    // copy share zero aligned byte chunks (different containers)
    val payloads = blobs.filter($"doc_id" < 2L).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    def chunks(b: Array[Byte]): Set[Seq[Byte]] =
      b.grouped(16).map(_.toSeq).toSet
    assert((chunks(payloads(0L)) intersect chunks(payloads(1L))).isEmpty,
      "the re-encode must share no container chunks with its source")
    // and the copies really are different containers: PNG vs BMP magic
    assert(payloads(0L)(1) == 'P'.toByte && payloads(1L)(0) == 'B'.toByte)
    blobs.unpersist()
  }

  test("audioSigPairs: volume-scaled copies pair perceptually; byte identity misses them") {
    val docs = (0L until 40L).toDF("doc_id")
    val blobs = Multimodal.synthScaledWavCorpus(docs).cache()
    val pairs = Multimodal.audioSigPairs(SharedTrunks.pin(Multimodal.audioSignatures(blobs)))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.keySet == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)),
      s"exactly the planted re-leveled copies must pair: ${pairs.keySet}")
    assert(pairs.values.forall(_ <= 2),
      s"truncation ties flip at most a couple of delta signs: $pairs")
    // the byte tier CANNOT see these pairs: every PCM sample differs
    // after the re-level, so the payloads share no identity
    val p = blobs.filter($"doc_id" < 2L).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(!java.util.Arrays.equals(p(0L), p(1L)),
      "the scaled copy must differ byte-wise from its source")
    blobs.unpersist()
  }

  test("audioSigDedup: scaled copies suppress, their sources survive") {
    val docs = (0L until 30L).toDF("doc_id")
    val out = Multimodal.audioSigDedup(SharedTrunks.pin(Multimodal.audioSignatures(
        Multimodal.synthScaledWavCorpus(docs)))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val copies = Set(1L, 11L, 21L)
    copies.foreach(d =>
      assert(out(d) == ((1L, false)), s"copy $d must suppress: ${out(d)}"))
    (0L until 30L).filterNot(copies).foreach(d =>
      assert(out(d)._2, s"non-copy $d must keep: ${out(d)}"))
    assert(out(0L) == ((1L, true)) && out(10L) == ((1L, true)),
      "sources still count their dup but keep")
  }

  test("audioSigIncremental: new batch probes the store — copies match, originals keep") {
    val docs = (0L until 30L).toDF("doc_id")
    val blobs = Multimodal.synthScaledWavCorpus(docs).cache()
    // new batch = doc_id % 5 == 1: {1, 11, 21} are re-leveled copies
    // of {0, 10, 20} (in the store) and must match; {6, 16, 26} are
    // originals with no perceptual twin and must keep
    val out = Multimodal.audioSigIncremental(
        SharedTrunks.pin(Multimodal.audioSignatures(blobs.filter($"doc_id" % 5 === 1))),
        storeSigs = Multimodal.audioSignatures(
          blobs.filter($"doc_id" % 5 =!= 1))).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 6L, 11L, 16L, 21L, 26L))
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (n, src) =>
      val (m, id, hm, keep) = out(n)
      assert(m == 1L && id == src && hm <= 2 && !keep, s"copy $n: ${out(n)}")
    }
    Seq(6L, 16L, 26L).foreach(n =>
      assert(out(n) == ((0L, -1L, -1, true)), s"original $n: ${out(n)}"))
    blobs.unpersist()
  }

  test("audioSigGroups: re-leveled copies land in their sources' groups") {
    val docs = (0L until 30L).toDF("doc_id")
    val out = Multimodal.audioSigGroups(SharedTrunks.pin(Multimodal.audioSignatures(
        Multimodal.synthScaledWavCorpus(docs)))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (copy, src) =>
      assert(out(copy) == ((src, false)), s"copy $copy: ${out(copy)}")
      assert(out(src) == ((src, true)), s"source $src: ${out(src)}")
    }
    assert(out.count(!_._2._2) == 3, "exactly the three copies suppress")
  }

  test("phashPairs: maxBucket caps a concentrated (flat-image) bucket deterministically") {
    // 20 visually-flat blobs — identical dHash, so every band folds
    // into ONE bucket: the concentration hazard the scaladoc names.
    // The cap bounds candidate volume to O(maxBucket²) per band and
    // the survivor subset is the smallest doc_ids (deterministic).
    val sigs = (0L until 20L).map(d => (d, 0L)).toDF("doc_id", "dhash")
    val capped = Multimodal.phashPairs(sigs, maxBucket = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for { a <- 0L until 5L; b <- a + 1 until 5L }
      yield (a, b)).toSet
    assert(capped == want,
      s"cap must keep exactly the 5 smallest ids' pairs: $capped")
    // uncapped (default 256 > 20): the full quadratic set — the cap,
    // not the banding, is what bounded the volume above
    val full = Multimodal.phashPairs(sigs).count()
    assert(full == 190L, s"20 identical sigs pair exhaustively: $full")
  }

  test("driver-fixture band buckets stay under HALF the cap (lossless-banding headroom)") {
    // the pairs keys' oracle is the EXHAUSTIVE all-pairs definition,
    // which is only valid while every band bucket sits under
    // maxBucket (256): pigeonhole-lossless banding truncates nothing
    // below the cap. This pins 2x headroom on the LARGEST driver
    // fixture (sf0.1, 5000 blobs; measured image max 115 in r12) so
    // a corpus change drifting buckets toward the cap fails a test
    // before it can silently break oracle parity.
    import org.apache.spark.sql.functions.{posexplode, expr, count, lit, max}
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id")
    def maxBucketOf(sigs: org.apache.spark.sql.DataFrame, sigCol: String,
                    totalBits: Int, bands: Int): Long = {
      val bits = totalBits / bands
      val mask = (1L << bits) - 1
      sigs.select(posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"b -> shiftright($sigCol, b * $bits) & ${mask}L)")))
        .groupBy("pos", "col").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
    }
    val img = maxBucketOf(
      Multimodal.phashSignatures(Multimodal.synthMixedCorpus(docs)),
      "dhash", 56, 7)
    assert(img <= 128, s"image band bucket $img exceeds half the 256 cap")
    val aud = maxBucketOf(
      Multimodal.audioSignatures(Multimodal.synthScaledWavCorpus(docs)),
      "asig", 63, 7)
    assert(aud <= 128, s"audio band bucket $aud exceeds half the 256 cap")
  }

  test("audio winnow tier catches the trimmed copies the prefix tier provably misses") {
    val docs = (0L until 30L).toDF("doc_id")
    val corpus = Multimodal.synthOffsetWavCorpus(docs)
    // precondition (the mm_phash_pairs pattern): the PREFIX tier
    // reads samples [0, 64) — a 37-sample trim shifts the window,
    // so the prefix signatures share nothing and no copy pairs
    val prefix = Multimodal.audioSigPairs(SharedTrunks.pin(Multimodal.audioSignatures(corpus)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Set((0L, 1L), (10L, 11L), (20L, 21L))
    assert(prefix.intersect(planted).isEmpty,
      s"the prefix tier must MISS every trimmed copy: $prefix")
    // the winnowed tier pairs exactly the planted trims, hamming 0
    // (identical PCM after the shift), ≥1 shared fingerprint each
    val sigs = SharedTrunks.pin(Multimodal.audioWinnowSignatures(corpus))
    val winnow = Multimodal.audioWinnowPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getLong(3))).toMap
    assert(winnow.keySet == planted,
      s"exactly the trimmed copies must pair: ${winnow.keySet}")
    winnow.foreach { case (p, (h, n)) =>
      assert(h == 0 && n >= 1, s"pair $p: hamming $h, $n shared") }
    // the banded-Hamming tier (maxHamming > 0) finds the same
    // planted pairs — tolerance can only ADD pairs, never lose one
    val banded = Multimodal.audioWinnowPairs(sigs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(banded),
      s"banded tier must cover the exact tier's pairs: $banded")
    // store/incremental parity: the copies flag against the store,
    // the originals in the same new batch keep
    val inc = Multimodal.audioWinnowIncremental(
        newSigs = sigs.filter($"doc_id" % 5 === 1),
        storeSigs = sigs.filter($"doc_id" % 5 =!= 1))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4)))
      .toMap
    Seq(1L, 11L, 21L).foreach(d =>
      assert(inc(d) == ((d - 1, false)), s"copy $d must match: ${inc(d)}"))
    Seq(6L, 16L, 26L).foreach(d =>
      assert(inc(d)._2, s"original $d must keep: ${inc(d)}"))
    // summary parity: exactly the trimmed copies suppress
    val ded = Multimodal.audioWinnowDedup(sigs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    Seq(1L, 11L, 21L).foreach(d =>
      assert(!ded(d), s"copy $d must suppress in the summary"))
    assert(ded.count(!_._2) == 3, "exactly the three copies suppress")
    // groups parity: each trimmed copy lands in its master's group
    val grp = Multimodal.audioWinnowGroups(sigs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (c, m) =>
      assert(grp(c) == ((m, false)) && grp(m) == ((m, true)),
        s"copy $c must join master $m: ${grp(c)} / ${grp(m)}") }
    assert(grp.count(!_._2._2) == 3, "exactly the three copies suppress")
  }

  test("winnow keep-best: the rank ORDERING is exercised, not just the tie-break") {
    // the offset fixture varies decoded length in BOTH directions:
    // trim groups (master 192 > copy 155, master has the SMALLER id)
    // agree with min-id; extension groups (copy 229 > master 192,
    // the longer recording has the LARGER id) disagree — keep-best
    // must pick the larger id there, which min-id survivorship and
    // a constant rank key both get wrong
    val docs = (0L until 30L).toDF("doc_id")
    val corpus = Multimodal.synthOffsetWavCorpus(docs)
    val sigs = Multimodal.audioWinnowSignatures(corpus).localCheckpoint(true)
    val groups = SharedTrunks.pin(Multimodal.audioWinnowGroups(sigs))
    val kb = Multimodal.audioWinnowKeepBest(sigs, groups)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // trim group {0 (192), 1 (155)}: rank and min-id agree on 0
    assert(kb(0L) == ((0L, 192L, true)) && kb(1L) == ((0L, 155L, false)),
      s"trim group: ${kb(0L)} / ${kb(1L)}")
    // extension group {10 (192), 11 (229)}: rank picks 11, min-id
    // would pick 10 — the ordering itself decides
    assert(kb(11L) == ((10L, 229L, true)) && kb(10L) == ((10L, 192L, false)),
      s"extension group must keep the LONGER larger-id copy: " +
        s"${kb(10L)} / ${kb(11L)}")
    // group membership identical to the groups key (shared closure)
    val grp = groups
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kb.view.mapValues(_._1).toMap == grp,
      "keep-best and groups must agree on membership")
  }

  test("image winnow tier catches the cropped copies the whole-image tier cannot see") {
    val docs = (0L until 30L).toDF("doc_id")
    val corpus = Multimodal.synthCropPngCorpus(docs)
    // precondition: the whole-image tier's geometry contract (square
    // integer multiples of the grid — r16's block-aggregate
    // normalization widens it from exact-side only) still REJECTS
    // the crop corpus outright: an 8x8 crop of a 12-grid is not a
    // multiple, so a cropped copy is not merely missed, it is
    // outside the tier's domain
    val thrown = intercept[org.apache.spark.SparkException] {
      Multimodal.phashSignatures(corpus, side = 12).collect()
    }
    val want = "expected a square multiple of 12x12"
    assert(thrown.getMessage.contains(want)
      || Option(thrown.getCause).exists(_.getMessage.contains(want)),
      s"whole-image tier must reject the 8x8 crops: ${thrown.getMessage}")
    // the winnowed tier pairs exactly the planted crops
    val planted = Set((0L, 1L), (10L, 11L), (20L, 21L))
    val sigs = Multimodal.imageWinnowSignatures(corpus).localCheckpoint(true)
    val pairs = Multimodal.imageWinnowPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == planted,
      s"exactly the cropped copies must pair: ${pairs.keySet}")
    pairs.foreach { case (p, n) =>
      assert(n >= 1, s"pair $p: $n shared fingerprints") }
    // store/incremental parity: crops flag against the store,
    // originals in the same new batch keep
    val inc = Multimodal.imageWinnowIncremental(
        newSigs = sigs.filter($"doc_id" % 5 === 1),
        storeSigs = sigs.filter($"doc_id" % 5 =!= 1))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    Seq(1L, 11L, 21L).foreach(d =>
      assert(inc(d) == ((d - 1, false)), s"crop $d must match: ${inc(d)}"))
    Seq(6L, 16L, 26L).foreach(d =>
      assert(inc(d)._2, s"original $d must keep: ${inc(d)}"))
    // summary + groups parity
    val ded = Multimodal.imageWinnowDedup(sigs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(Seq(1L, 11L, 21L).forall(!ded(_)) && ded.count(!_._2) == 3,
      "exactly the three crops suppress")
    val groups = SharedTrunks.pin(Multimodal.imageWinnowGroups(sigs))
    val grp = groups
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (c, m) =>
      assert(grp(c) == ((m, false)) && grp(m) == ((m, true)),
        s"crop $c must join master $m: ${grp(c)} / ${grp(m)}") }
    // keep-best rank coverage: crop group {0 (144 px), 1 (64 px)}
    // agrees with min-id; padded group {10 (144), 11 (256)} picks
    // the LARGER larger-id restoration — the ordering decides
    val kb = Multimodal.imageWinnowKeepBest(sigs, groups)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(kb(0L) == ((0L, 144L, true)) && kb(1L) == ((0L, 64L, false)),
      s"crop group: ${kb(0L)} / ${kb(1L)}")
    assert(kb(11L) == ((10L, 256L, true)) && kb(10L) == ((10L, 144L, false)),
      s"padded group must keep the larger-id restoration: " +
        s"${kb(10L)} / ${kb(11L)}")
    assert(kb.view.mapValues(_._1).toMap ==
      grp.view.mapValues(_._1).toMap,
      "keep-best and groups must agree on membership")
  }

  test("image winnow guarantee: ANY crop offset still shares a fingerprint (property)") {
    // the 2-D winnowing theorem in practice: for random pixels and a
    // RANDOM crop window of >= (tile + win - 1)^2 = 7x7, master and
    // crop must share >= 1 selected fingerprint. Exercises offsets
    // and crop sizes the fixed fixture (8x8 at (2,3)) never hits.
    val rnd = new scala.util.Random(20260815L)
    def png(px: Array[Array[Int]]): Array[Byte] = {
      val h = px.length; val w = px(0).length
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y)(x))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val master = Array.fill(20, 20)(rnd.nextInt(1 << 24))
    val crops = Seq((0, 0, 7), (1, 1, 7), (5, 3, 8), (13, 13, 7),
      (0, 12, 8), (6, 6, 12), (2, 9, 10))
    val blobs = (0L, png(master)) +: crops.zipWithIndex.map {
      case ((cx, cy, cs), i) =>
        ((i + 1).toLong, png(Array.tabulate(cs, cs)(
          (y, x) => master(cy + y)(cx + x)))) }
    val df = spark.createDataFrame(blobs).toDF("doc_id", "payload")
    val byDoc = Multimodal.imageWinnowSignatures(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    crops.zipWithIndex.foreach { case ((cx, cy, cs), i) =>
      val shared = byDoc(0L).intersect(byDoc((i + 1).toLong))
      assert(shared.nonEmpty,
        s"crop ($cx,$cy,$cs) must share a fingerprint with the master " +
          s"(master ${byDoc(0L).size} fps, crop ${byDoc((i + 1).toLong).size})")
    }
  }

  test("winnow signatures: the O(n) bit-slide equals per-position recompute (property)") {
    // the production kernel slides one 63-bit window over the delta
    // bitstring; this reference recomputes every position's
    // signature from scratch — a slide bug (wrong shift, wrong tail
    // bit) diverges immediately on random PCM
    val rnd = new scala.util.Random(42L)
    def wav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    for (round <- 1 to 3) {
      val n = 64 + rnd.nextInt(200)
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      // reference: per-position recompute + the same windowed-min
      // selection rule
      def sigAt(p: Int): Long = {
        var s = 0L
        (0 until 63).foreach { j =>
          if (samples(p + j + 1) > samples(p + j)) s |= 1L << j }
        s
      }
      val nPos = n - 63
      val sigs = (0 until nPos).map(sigAt)
      val lastW = math.max(nPos - 16, 0)
      val want = (0 to lastW)
        .map(w => sigs.slice(w, math.min(w + 16, nPos)).min).toSet
      val got = Multimodal.audioWinnowSignatures(
          spark.createDataFrame(Seq((round.toLong, wav(samples))))
            .toDF("doc_id", "payload"))
        .collect().map(_.getLong(1)).toSet
      assert(got == want,
        s"round $round (n=$n): slide diverges from recompute\n" +
          s"got-want: ${got -- want}\nwant-got: ${want -- got}")
    }
  }

  test("winnow guarantee: ANY trim offset still shares a fingerprint (property)") {
    // the winnowing theorem in practice: for random PCM and a RANDOM
    // trim, master and copy must share >= 1 selected fingerprint
    // (they share >= win + wSel - 1 contiguous samples by
    // construction). Exercises offsets the fixed fixture (37) never
    // hits, including window-multiple and off-by-one cases.
    val rnd = new scala.util.Random(20260815L)
    def wav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val offsets = Seq(1, 15, 16, 17, 63, 64, 79, 100)
    val master = Array.fill(260)(rnd.nextInt(65536).toShort)
    val blobs = (0L, wav(master)) +: offsets.zipWithIndex.map {
      case (off, i) => ((i + 1).toLong, wav(master.drop(off))) }
    val df = spark.createDataFrame(blobs).toDF("doc_id", "payload")
    val sigs = Multimodal.audioWinnowSignatures(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = sigs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    offsets.zipWithIndex.foreach { case (off, i) =>
      val shared = byDoc(0L).intersect(byDoc((i + 1).toLong))
      assert(shared.nonEmpty,
        s"trim offset $off must share a fingerprint with the master " +
          s"(master ${byDoc(0L).size} fps, copy ${byDoc((i + 1).toLong).size})")
    }
  }

  test("thumbnail: box-average resize is exact integer arithmetic, " +
    "identity at factor 1, loud on non-tileable dims") {
    val docs = (0L until 8L).toDF("doc_id")
    val corpus = Multimodal.synthPngCorpus(docs).cache()
    // factor 1 is the identity: stats equal the raw decode's
    val raw = Multimodal.decodeImageStats(corpus).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    val id = Multimodal.decodeImageStats(Multimodal.thumbnail(corpus, 1))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(id === raw, "factor 1 must be the identity resize")
    // factor 2: hand-compute the floored block means from the recipe
    def fnv(s: String): Long = {
      var h = -3750763034362895579L // FNV-1a offset basis
      s.foreach { c => h = (h ^ (c.toInt & 0xff)) * 1099511628211L }
      h
    }
    def chan(d: Long, i: Int): (Int, Int, Int) = {
      val h = fnv(s"$d:$i")
      (((h >>> 8) & 0xff).toInt, ((h >>> 16) & 0xff).toInt,
        ((h >>> 24) & 0xff).toInt)
    }
    val want = (0 until 4).flatMap(oy => (0 until 4).map { ox =>
      val block = for (dy <- 0 to 1; dx <- 0 to 1)
        yield chan(3L, (oy * 2 + dy) * 8 + (ox * 2 + dx))
      (block.map(_._1).sum / 4, block.map(_._2).sum / 4,
        block.map(_._3).sum / 4)
    })
    val got = Multimodal.decodeImageStats(
        Multimodal.thumbnail(corpus.filter($"doc_id" === 3L), 2))
      .collect().head
    assert(got.getInt(1) === 4 && got.getInt(2) === 4)
    assert(got.getLong(3) === want.map(_._1.toLong).sum, "sum_r")
    assert(got.getLong(4) === want.map(_._2.toLong).sum, "sum_g")
    assert(got.getLong(5) === want.map(_._3.toLong).sum, "sum_b")
    // 8x8 is not tileable by 3 — a silent crop inside a resize is
    // how training corpora rot, so the contract throws
    val thrown = intercept[org.apache.spark.SparkException] {
      Multimodal.thumbnail(corpus, 3).collect()
    }
    assert(thrown.getMessage.contains("not tileable")
      || Option(thrown.getCause).exists(_.getMessage.contains("not tileable")))
    corpus.unpersist()
  }

  test("audioDecimate: exact sample selection, half rate, identity at " +
    "factor 1, indivisible rates throw") {
    val docs = (0L until 6L).toDF("doc_id")
    val corpus = Multimodal.synthWavCorpus(docs).cache()
    def stats(df: org.apache.spark.sql.DataFrame) =
      Multimodal.decodeAudioStats(df).collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val raw = stats(corpus)
    assert(stats(Multimodal.audioDecimate(corpus, 1)) === raw,
      "factor 1 must be the identity resample")
    val dec = stats(Multimodal.audioDecimate(corpus, 2))
    // hand-compute the kept samples (i % 2 == 0) from the recipe
    def fnv(s: String): Long = {
      var h = -3750763034362895579L
      s.foreach { c => h = (h ^ (c.toInt & 0xff)) * 1099511628211L }
      h
    }
    def smp(d: Long, i: Int): Int =
      ((((fnv(s"$d:$i") >>> 8) & 0xffffL).toInt << 16) >> 16)
    docs.collect().map(_.getLong(0)).foreach { d =>
      val kept = (0 until 64 by 2).map(smp(d, _))
      val (rate, n, sum, sabs) = dec(d)
      assert(rate === 4000 && n === 32L, s"doc $d header: $rate/$n")
      assert(sum === kept.map(_.toLong).sum, s"doc $d sum")
      assert(sabs === kept.map(v => math.abs(v).toLong).sum, s"doc $d abs")
    }
    // 8000 Hz is not divisible by 3 — the header would lie about the
    // duration, so the contract throws instead of rounding the rate
    val thrown = intercept[org.apache.spark.SparkException] {
      Multimodal.audioDecimate(corpus, 3).collect()
    }
    assert(thrown.getMessage.contains("not divisible")
      || Option(thrown.getCause).exists(_.getMessage.contains("not divisible")))
    corpus.unpersist()
  }

  test("phashSummary: exactly the re-encoded copies suppress, originals survive") {
    val docs = (0L until 30L).toDF("doc_id")
    val out = Multimodal.phashSummary(SharedTrunks.pin(Multimodal.phashSignatures(
        Multimodal.synthMixedCorpus(docs)))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val copies = Set(1L, 11L, 21L)
    copies.foreach(d =>
      assert(out(d) == ((1L, false)), s"copy $d must suppress: ${out(d)}"))
    (0L until 30L).filterNot(copies).foreach(d =>
      assert(out(d)._2, s"non-copy $d must keep"))
    // the originals of planted copies still count their dup
    assert(out(0L) == ((1L, true)) && out(10L) == ((1L, true)))
  }

  test("keep-best: the HIGHEST-RESOLUTION / LONGEST copy survives, not min-id") {
    import org.apache.spark.sql.functions.col
    // identical signatures -> one group {0,1,2}; doc 1 carries 4x the
    // pixels, so it must beat the min-id doc 0 for survivorship
    val imgSigs = Seq((0L, 7L, 64L), (1L, 7L, 256L), (2L, 7L, 64L),
      (9L, (1L << 28) - 1, 64L)).toDF("doc_id", "dhash", "px")
    val img = Multimodal.phashKeepBest(imgSigs,
        SharedTrunks.pin(Multimodal.phashGroups(imgSigs))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(img(1L) == ((0L, 256L, true)), s"the 256-px copy wins: ${img(1L)}")
    assert(img(0L) == ((0L, 64L, false)) && img(2L) == ((0L, 64L, false)),
      s"min-id no longer implies survivorship: $img")
    assert(img(9L) == ((9L, 64L, true)), "singletons keep themselves")
    // audio: the 96-sample master beats the 64-sample derivative
    val audSigs = Seq((10L, 5L, 64L), (11L, 5L, 96L))
      .toDF("doc_id", "asig", "n_samples")
    val aud = Multimodal.audioSigKeepBest(audSigs,
        SharedTrunks.pin(Multimodal.audioSigGroups(audSigs)))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(aud(11L) == ((10L, 96L, true)) && aud(10L) == ((10L, 64L, false)),
      s"the longest recording survives: $aud")
    // driver fixture (r16): membership always agrees with groups,
    // but on the upscaled group {10, 11} the 256-px restoration
    // out-ranks its min-id master — rank ordering, not the
    // tie-break, decides; ties elsewhere still fall to min id
    val docs = (0L until 30L).toDF("doc_id")
    val sigs = SharedTrunks.pin(Multimodal.phashSignatures(Multimodal.synthMixedCorpus(docs)))
    val groups = SharedTrunks.pin(Multimodal.phashGroups(sigs))
    val kb = Multimodal.phashKeepBest(sigs, groups)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val gr = groups
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(kb.map(t => (t._1, t._2)) == gr.map(t => (t._1, t._2)),
      "keep-best and groups must agree on membership")
    val kbKeep = kb.map(t => t._1 -> t._3).toMap
    val grKeep = gr.map(t => t._1 -> t._3).toMap
    assert(!kbKeep(10L) && kbKeep(11L),
      s"the 2x upscale (doc 11) must beat its min-id master: $kbKeep")
    assert(grKeep(10L) && !grKeep(11L),
      "min-id groups pick the opposite survivor on the upscaled group")
    ((0L until 30L).toSet -- Set(10L, 11L)).foreach(d =>
      assert(kbKeep(d) == grKeep(d), s"non-upscaled doc $d must tie to min id"))
  }

  test("phashGroups: planted copies land in their originals' groups") {
    val docs = (0L until 30L).toDF("doc_id")
    val out = Multimodal.phashGroups(SharedTrunks.pin(Multimodal.phashSignatures(
        Multimodal.synthMixedCorpus(docs)))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (copy, orig) =>
      assert(out(copy) == ((orig, false)), s"copy $copy: ${out(copy)}")
      assert(out(orig) == ((orig, true)), s"orig $orig: ${out(orig)}")
    }
    assert(out.count(!_._2._2) == 3, "exactly the three copies suppress")
  }

  test("phashIncremental: new batch probes the store — copies match, originals keep") {
    val docs = (0L until 30L).toDF("doc_id")
    val blobs = Multimodal.synthMixedCorpus(docs).cache()
    // new batch = doc_id % 5 == 1: {1, 11, 21} are BMP re-encodes of
    // {0, 10, 20} (in the store) and must match; {6, 16, 26} are
    // originals with no perceptual twin and must keep
    val out = Multimodal.phashIncremental(
        SharedTrunks.pin(Multimodal.phashSignatures(blobs.filter($"doc_id" % 5 === 1))),
        storeSigs = Multimodal.phashSignatures(
          blobs.filter($"doc_id" % 5 =!= 1))).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 6L, 11L, 16L, 21L, 26L))
    Seq(1L -> 0L, 11L -> 10L, 21L -> 20L).foreach { case (n, s) =>
      val (m, id, hm, keep) = out(n)
      assert(m == 1L && id == s && hm <= 2 && !keep, s"copy $n: ${out(n)}")
    }
    Seq(6L, 16L, 26L).foreach { n =>
      assert(out(n) == ((0L, -1L, -1, true)), s"original $n: ${out(n)}")
    }
    blobs.unpersist()
  }

  test("sceneCuts/shotStats: a planted luma jump is the one cut; the " +
    "two keys agree on the cut count") {
    // frames are 64-byte windows at stride 128: frame 0 = chars
    // 1-64, frame 1 = chars 129-192, frame 2 = chars 257-320.
    // 'a'(97) -> 'c'(99) is a 2.0 drift (below the 6.0 cut), then
    // 'z'(122) is a 23.0 jump (the planted cut at frame 2)
    val video = ("a" * 128) + ("c" * 128) + ("z" * 128)
    val still = "m" * (3 * 128) // three identical frames: no cuts
    val vd = Seq((0L, video), (1L, still)).toDF("doc_id", "text")
    val cuts = Multimodal.sceneCuts(vd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(cuts.toSeq === Seq((0L, 2L, 23.0)),
      s"exactly the planted jump must cut: ${cuts.mkString(",")}")
    val stats = Multimodal.shotStats(vd).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(stats(0L) === ((3L, 1L, 2L, 1.5)))
    assert(stats(1L) === ((3L, 0L, 1L, 3.0)))
    // cross-key parity on the real corpus: per-doc cut rows == n_cuts
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val byDoc = Multimodal.sceneCuts(real).groupBy("doc_id").count()
    val mismatch = Multimodal.shotStats(real)
      .join(byDoc, Seq("doc_id"), "left")
      .filter(org.apache.spark.sql.functions.coalesce($"count",
        org.apache.spark.sql.functions.lit(0L)) =!= $"n_cuts").count()
    assert(mismatch === 0L)
  }

  test("audioFeatures: a STEREO payload throws instead of interleaving") {
    // a linear sample walk over interleaved stereo would alternate
    // L/R and corrupt rms + zero-crossings — the mono contract must
    // throw (audit tier), never emit channel-interleave noise
    val pcm = new Array[Byte](64 * 2 * 2) // 64 frames, 2ch, 16-bit
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 64L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val blobs = Seq((7L, bos.toByteArray)).toDF("doc_id", "payload")
    val e = intercept[Exception] {
      Multimodal.audioFeatures(blobs).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("MONO"),
      s"stereo input must fail the mono require, got: ${chain(e)}")
    // the Σ/Σ|·| audit sibling stays multi-channel-safe on the same blob
    val stats = Multimodal.decodeAudioStats(blobs).collect()
    assert(stats.head.getInt(2) == 2 && stats.head.getLong(3) == 64L,
      "decodeAudioStats must decode the stereo container fine")
  }

  // ---- hostile payloads ------------------------------------------------
  // At 100 TB the only trace a failed task leaves is its log line, so
  // EVERY failure path of the codec maps (our own contract requires
  // AND whatever the JDK codecs throw) must name the doc_id in the
  // surfaced message. Each case plants one poisoned row in an
  // otherwise-healthy corpus and asserts the error is attributable to
  // it from the message alone.

  /** Every message along the failure's cause chain, concatenated —
    * Spark wraps task failures in SparkException layers. */
  private def chainMessages(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 12) {
      sb.append(Option(cur.getMessage).getOrElse("")).append(" | ")
      cur = cur.getCause; depth += 1
    }
    sb.toString
  }

  private def assertNamesDoc(msgs: String, docId: Long, what: String): Unit =
    assert(msgs.contains(s"doc $docId"),
      s"$what must name doc $docId in the surfaced message chain: $msgs")

  private def pngOf(side: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side; x <- 0 until side)
      img.setRGB(x, y, (x * 31 + y * 7) % 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A structurally valid PNG whose IHDR declares width 0 (CRC
    * recomputed so the chunk parses) — the crafted-header shape that
    * makes the JDK reader throw its own IllegalArgumentException
    * rather than an IIOException. */
  private def zeroWidthPng: Array[Byte] = {
    val b = pngOf(8).clone()
    // IHDR layout: len@8, type@12..15, data@16..28 (width first), crc@29..32
    b(16) = 0; b(17) = 0; b(18) = 0; b(19) = 0
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 17) // chunk type + 13 data bytes
    val v = crc.getValue
    b(29) = ((v >>> 24) & 0xff).toByte; b(30) = ((v >>> 16) & 0xff).toByte
    b(31) = ((v >>> 8) & 0xff).toByte; b(32) = (v & 0xff).toByte
    b
  }

  private def wavOf(rate: Float, bits: Int, channels: Int,
                    nFrames: Int = 64): Array[Byte] = {
    val bytesPerFrame = channels * bits / 8
    val pcm = new Array[Byte](nFrames * bytesPerFrame)
    pcm.indices.foreach(i => pcm(i) = ((i * 37) % 251).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(
      rate, bits, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("thumbnail under hostile payloads: truncated PNG, zero-length, " +
    "garbage, and non-tileable dims all name the poisoned doc_id") {
    val good = pngOf(8)
    val cases: Seq[(String, Array[Byte], Int)] = Seq(
      // the PNG magic survives, the IDAT stream does not — the JDK
      // reader throws its own IIOException, which the attribution
      // wrapper must re-tag with the row
      ("truncated PNG", good.take(40), 2),
      ("zero-length payload", Array.empty[Byte], 2),
      ("garbage bytes", Array.tabulate[Byte](64)(i => (i * 83).toByte), 2),
      // 5x5 is not tileable by 2 — our own contract require
      ("non-tileable dims", pngOf(5), 2),
      // crafted header: IHDR declares width 0 with a VALID CRC — the
      // JDK reader rejects it with its own exception (an IAE on some
      // JDK versions), which must still be re-tagged with the doc
      ("zero-width IHDR", zeroWidthPng, 2))
    cases.foreach { case (what, poison, factor) =>
      val corpus = Seq((1L, good), (7L, poison), (9L, good))
        .toDF("doc_id", "payload")
      val thrown = intercept[Throwable] {
        Multimodal.thumbnail(corpus, factor).collect()
      }
      assertNamesDoc(chainMessages(thrown), 7L, s"thumbnail($what)")
    }
  }

  test("audioDecimate under hostile payloads: zero-length WAV, garbage, " +
    "stereo, 8-bit, and non-divisible rates all name the poisoned doc_id") {
    val good = wavOf(8000f, 16, 1)
    val cases: Seq[(String, Array[Byte], Int)] = Seq(
      // AudioSystem throws UnsupportedAudioFileException — no row
      // context without the attribution wrapper
      ("zero-length WAV", Array.empty[Byte], 2),
      ("garbage bytes", Array.tabulate[Byte](64)(i => (i * 89).toByte), 2),
      ("truncated WAV header", good.take(10), 2),
      // format contract requires: each names the doc itself
      ("stereo payload", wavOf(8000f, 16, 2), 2),
      ("8-bit payload", wavOf(8000f, 8, 1), 2),
      ("non-divisible rate", wavOf(22051f, 16, 1), 2))
    cases.foreach { case (what, poison, factor) =>
      val corpus = Seq((1L, good), (7L, poison), (9L, good))
        .toDF("doc_id", "payload")
      val thrown = intercept[Throwable] {
        Multimodal.audioDecimate(corpus, factor).collect()
      }
      assertNamesDoc(chainMessages(thrown), 7L, s"audioDecimate($what)")
    }
  }

  test("healthy corpus is untouched by the attribution wrapper: " +
    "round trips still replay the recipe exactly") {
    val docs = (0L until 4L).toDF("doc_id")
    val png = Multimodal.synthPngCorpus(docs)
    val before = Multimodal.decodeImageStats(png).collect()
      .map(_.toString).sorted.toSeq
    val thumbId = Multimodal.decodeImageStats(
        Multimodal.thumbnail(png, 1)).collect()
      .map(_.toString).sorted.toSeq
    assert(thumbId === before,
      "factor-1 thumbnail must stay the identity under the wrapper")
    val wav = Multimodal.synthWavCorpus(docs)
    val rawStats = Multimodal.decodeAudioStats(wav).collect()
      .map(_.toString).sorted.toSeq
    val decId = Multimodal.decodeAudioStats(
        Multimodal.audioDecimate(wav, 1)).collect()
      .map(_.toString).sorted.toSeq
    assert(decId === rawStats,
      "factor-1 decimate must stay the identity under the wrapper")
  }
}
