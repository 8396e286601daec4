package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.F): treat image/audio/
  * video payloads as opaque `binary` columns with typed metadata,
  * processed per-partition without ever collecting to the driver.
  *
  * Decode (r10): raster formats the JDK ships readers for
  * (PNG/JPEG/GIF/BMP) are REALLY decoded via `javax.imageio`
  * ([[decodeFrame]], [[decodeImageStats]]) — true pixels, true
  * dimensions, Rec.601 luma. Formats with no JDK codec
  * (audio/video/webp/…) fall back to [[decodeStub]]'s deterministic
  * fake so the pipeline shape stays total; swap the stub for a
  * JNI/codec call in production.
  *
  * Text-derived payloads stand in for media bytes in most keys (the
  * testdata has no binary table); [[synthPngCorpus]] additionally
  * synthesizes REAL PNG blobs with oracle-replayable pixels so the
  * genuine codec path is hash-checked end to end.
  */
object Multimodal {

  /** Project a documents table into (doc_id, payload binary, meta). */
  def asBlobs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lit("text/plain").as("content_type")).as("meta"))

  /** Byte-level stats: size, sha-256, leading-magic hex — the
    * dedup/integrity pass for binary corpora. */
  def blobStats(docs: DataFrame): DataFrame =
    asBlobs(docs).select(
      col("doc_id"),
      col("meta.n_bytes").as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      hex(substring(col("payload"), 1, 4)).as("magic_hex"))

  /** Corpus rollup by sniffed type (leading magic bytes): blob
    * counts and size stats per detected format — the manifest pass
    * that decides which decoder fleet each subset routes to. One
    * narrow projection + a tiny aggregate.
    */
  def typeSummary(docs: DataFrame): DataFrame =
    asBlobs(docs)
      .select(hex(substring(col("payload"), 1, 2)).as("magic2"),
        col("meta.n_bytes").as("n_bytes"))
      .groupBy("magic2")
      .agg(
        count(lit(1)).as("n_blobs"),
        sum("n_bytes").as("total_bytes"),
        min("n_bytes").as("min_bytes"),
        max("n_bytes").as("max_bytes"))

  /** Duplication profile by sniffed type — which FORMAT carries the
    * copy weight (crawled image corpora and scraped PDFs duplicate
    * at wildly different rates, and dedup budget should follow the
    * waste): per magic2 type, blob count, distinct-payload count
    * (sha-256 identity), the duplicate ratio, and the bytes a
    * per-type exact dedup would reclaim. Two hash aggregates — the
    * inner one on (type, sha) carries only hashes and byte counts,
    * never payloads (identical payloads have identical length, so
    * one representative's size is `max(len)` within the sha group).
    */
  def dedupByType(docs: DataFrame): DataFrame =
    asBlobs(docs)
      .select(hex(substring(col("payload"), 1, 2)).as("magic2"),
        sha2(col("payload"), 256).as("sha"),
        col("meta.n_bytes").as("len"))
      .groupBy("magic2", "sha")
      .agg(count(lit(1)).as("n"), max("len").as("len1"),
        sum("len").as("bytes"))
      .groupBy("magic2")
      .agg(
        sum("n").as("n_blobs"),
        count(lit(1)).as("n_distinct"),
        round(lit(1.0) - count(lit(1)) / sum("n"), 6).as("dup_ratio"),
        (sum("bytes") - sum("len1")).as("reclaimable_bytes"))

  /** Frame/chunk sampling: cut each payload into `frameSize`-byte
    * frames every `stride` bytes (video frame-sample / audio window
    * shape). Pure explode+substring — codegen'd, no UDF, and the
    * explode keeps rows within the source partition.
    */
  def frameSample(docs: DataFrame, frameSize: Int = 64, stride: Int = 128): DataFrame =
    asBlobs(docs)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0),
          greatest(((col("meta.n_bytes") - 1) / stride).cast("int"), lit(0))))
          .as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * stride).cast("long").as("byte_offset"),
        length(expr(s"substring(payload, frame_idx * $stride + 1, $frameSize)"))
          .cast("long").as("frame_len"),
        md5(expr(s"substring(payload, frame_idx * $stride + 1, $frameSize)"))
          .as("frame_md5"))

  /** Chunk-level dedup across payloads: frames whose bytes appear in
    * more than one document — the binary analogue of boilerplate
    * detection (shared headers, repeated segments). GroupBy on the
    * frame hash, never on the bytes themselves.
    */
  def chunkDedup(docs: DataFrame, frameSize: Int = 64, stride: Int = 128): DataFrame =
    frameSample(docs, frameSize, stride)
      .groupBy("frame_md5")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min("doc_id").as("first_doc_id"))
      .filter(col("n_docs") > 1)

  /** Binary NEAR-DUP pairs: blob pairs whose chunk-hash vocabularies
    * overlap — re-encoded/truncated/header-patched copies that a
    * whole-file sha256 misses. Same candidate discipline as the text
    * near-dup family: per-blob DISTINCT chunk hashes, df-capped
    * postings (a boilerplate chunk shared by every file never
    * explodes — [[graft.functions.BoundedCollectSetAgg]] caps the
    * buffer at maxDf+1), pair fan-out only inside rare chunks, then
    * Jaccard over the df-capped chunk vocabulary (both sides of the
    * oracle replay the cap, so the score is deterministic). GroupBys
    * ride on 32-hex hashes, never payload bytes.
    */
  def blobNearDupPairs(docs: DataFrame, frameSize: Int = 64,
                       stride: Int = 128, tau: Double = 0.3,
                       maxDf: Int = 64): DataFrame =
    framePairs(docs, frameSize, stride, maxDf, col("id_a") < col("id_b"), tau)
      .select("id_a", "id_b", "n_shared", "chunk_jaccard")

  /** Blob pairs kept by `keep` whose Jaccard over their distinct
    * frame hashes (df-capped at `maxDf`) reaches `tau`, with
    * `n_shared` and `chunk_jaccard`. */
  private def framePairs(docs: DataFrame, frameSize: Int, stride: Int,
                         maxDf: Int, keep: Column, tau: Double): DataFrame = {
    val perDoc = frameSample(docs, frameSize, stride)
      .select(col("doc_id"), col("frame_md5")).distinct()
      .localCheckpoint(true) // consumed by sizes, postings, and nothing re-derives frames
    val sizes = perDoc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = Dedup.sharedPostings(perDoc, "frame_md5", maxDf,
      keep, "n_shared")
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("chunk_jaccard",
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("chunk_jaccard") >= tau)
  }

  /** INCREMENTAL blob near-dup — the daily-ingest shape for binary
    * corpora, completing the incremental family across modalities
    * (text: [[Dedup.incrementalNearDupPairs]]; vectors:
    * [[AnnIndex.appendIvf]]): only new×history candidates form —
    * history is never re-paired with itself, which at 100 TB is the
    * difference between O(delta) and re-verifying yesterday's
    * corpus nightly. Same tagged-id trick as the text twin (is_new
    * rides the posting id's low bit, so old×old combinations die
    * map-side inside the df-capped bucket enumeration before any
    * shuffle); chunk df is capped over the union so boilerplate
    * shared between batch and history still drops out. In
    * production the history side reads a persisted chunk-hash
    * store ([[DedupStore]] economics) instead of re-framing blobs.
    */
  def incrementalBlobPairs(newDocs: DataFrame, corpus: DataFrame,
                           frameSize: Int = 64, stride: Int = 128,
                           tau: Double = 0.3, maxDf: Int = 64): DataFrame = {
    val tagged = newDocs.select((col("doc_id") * 2 + 1).as("doc_id"), col("text"))
      .unionByName(corpus.select((col("doc_id") * 2).as("doc_id"), col("text")))
    framePairs(tagged, frameSize, stride, maxDf,
        col("id_a") % 2 === 1 && col("id_b") % 2 === 0, tau)
      .select(expr("id_a div 2").as("new_id"), expr("id_b div 2").as("corpus_id"),
        col("n_shared"), col("chunk_jaccard"))
  }

  /** Connected components over the blob near-dup pair relation —
    * the multimodal member of the groups family ([[Dedup.dedupGroups]]
    * for text pairs, [[Dedup.embeddingGroups]] for embeddings):
    * re-encoded copy CHAINS (a≈b≈c where the ends no longer share
    * enough frames directly) collapse to one cluster with the min-id
    * survivor. Same min-label propagation, same `WITH RECURSIVE`
    * oracle shape as the other two.
    */
  def blobDedupGroups(docs: DataFrame, frameSize: Int = 64,
                      stride: Int = 128, tau: Double = 0.3,
                      maxDf: Int = 64): DataFrame =
    Dedup.dedupGroups(docs.select(col("doc_id")),
      blobNearDupPairs(docs, frameSize, stride, tau, maxDf))

  case class Frame(doc_id: Long, frame_idx: Long, bytes: Array[Byte])
  case class DecodedFrame(doc_id: Long, frame_idx: Long,
                          width: Int, height: Int, mean_luma: Double)

  /** Deterministic fake decode: "image" properties derived from the
    * bytes. The fallback for formats the JDK cannot decode — see
    * [[decodeFrame]] for the real-codec router. The signature
    * (bytes in, typed struct out) is the contract.
    */
  def decodeStub(f: Frame): DecodedFrame = {
    var h = 0xcbf29ce484222325L
    var s = 0L
    f.bytes.foreach { b => h = (h ^ (b & 0xffL)) * 0x100000001b3L; s += (b & 0xff) }
    DecodedFrame(f.doc_id, f.frame_idx,
      width = 16 + ((h >>> 8) % 48).toInt.abs,
      height = 16 + ((h >>> 24) % 48).toInt.abs,
      mean_luma = if (f.bytes.isEmpty) 0.0 else s.toDouble / f.bytes.length)
  }

  /** True when the leading bytes carry a raster magic the JDK's
    * built-in ImageIO readers decode: PNG, JPEG, GIF, BMP. */
  def isImageMagic(b: Array[Byte]): Boolean =
    b.length >= 4 &&
      ((b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
        (b(0) == 'B' && b(1) == 'M'))

  /** REAL decode for raster payloads via `javax.imageio` (the JDK
    * ships PNG/JPEG/GIF/BMP readers — no external codec needed):
    * true width/height and the Rec.601 mean luma over the actual
    * pixels. Unknown formats and corrupt payloads fall back to
    * [[decodeStub]] — the router never throws, because one bad blob
    * must not kill a 100 TB decode pass (the quarantine pattern:
    * stub output is still a row, attributable downstream).
    */
  def decodeFrame(f: Frame): DecodedFrame =
    if (!isImageMagic(f.bytes)) decodeStub(f)
    else try {
      val img = ioRead(
        new java.io.ByteArrayInputStream(f.bytes))
      if (img == null) decodeStub(f)
      else {
        val w = img.getWidth; val h = img.getHeight
        var s = 0.0; var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            s += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        DecodedFrame(f.doc_id, f.frame_idx, w, h, s / (w.toLong * h))
      }
    } catch { case scala.util.control.NonFatal(_) => decodeStub(f) }

  /** Typed decode pass over sampled frames: the batch shape
    * (Dataset[Frame] → mapPartitions → Dataset[DecodedFrame]) is how
    * a real codec would be driven — per-partition, streaming,
    * driver never touches payload bytes. Blobs whose magic is a
    * raster image (PNG/JPEG/GIF/BMP) pass WHOLE — slicing an encoded
    * image into byte windows would hand the codec garbage — and are
    * really decoded by [[decodeFrame]]'s ImageIO path; everything
    * else is stride-sliced and stub-decoded as before (so text-blob
    * corpora keep their bit-exact oracles).
    */
  def decodeFrames(docs: DataFrame, frameSize: Int = 64, stride: Int = 128): Dataset[DecodedFrame] =
    decodeFramesOfBlobs(asBlobs(docs), frameSize, stride)

  /** [[decodeFrames]] over an ALREADY-binary (doc_id, payload)
    * relation — the production entry point for real media corpora
    * (the text adapter's `cast("binary")` is UTF-8 and cannot carry
    * arbitrary bytes).
    */
  def decodeFramesOfBlobs(blobs: DataFrame, frameSize: Int = 64,
                          stride: Int = 128): Dataset[DecodedFrame] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    // Spark-side sniff mirrors isImageMagic (so the explode prunes
    // before bytes move); the typed router re-checks per frame
    val isImg = hex(substring(col("payload"), 1, 4)) === "89504E47" ||
      hex(substring(col("payload"), 1, 3)) === "FFD8FF" ||
      hex(substring(col("payload"), 1, 4)) === "47494638" ||
      hex(substring(col("payload"), 1, 2)) === "424D"
    val sliced = blobs.filter(!isImg)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0),
          greatest(((length(col("payload")) - 1) / stride).cast("int"), lit(0))))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        expr(s"substring(payload, frame_idx * $stride + 1, $frameSize)").as("bytes"))
    val whole = blobs.filter(isImg)
      .select(col("doc_id"), lit(0L).as("frame_idx"),
        col("payload").as("bytes"))
    sliced.unionByName(whole)
      .as[Frame]
      .mapPartitions(_.map(decodeFrame))
  }

  /** ImageIO's default stream cache is DISK-backed — every
    * read/write of an in-memory blob detours through a temp file,
    * measured 4× slower in isolation (0.485 s vs 0.115 s for the
    * sf0.1 thumbnail pass) and arbitrarily worse when /tmp is
    * contended (the r17 full-bench runs read 3×+ the key's band
    * from exactly this). The blobs here are byte arrays already in
    * memory; cache to memory. Referenced from every ImageIO map
    * body so each EXECUTOR JVM flips the static once — an object
    * init on the driver alone would not reach a real cluster's
    * executors. */
  @transient private lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** All in-object ImageIO decode/encode goes through these, so the
    * cache flip reaches whichever JVM actually runs the row. */
  private def ioRead(in: java.io.InputStream): java.awt.image.BufferedImage = {
    imageIoMemCache
    javax.imageio.ImageIO.read(in)
  }

  /** The (doc_id, payload) pairs of `blobs` as a typed dataset. */
  private def payloads(blobs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import blobs.sparkSession.implicits._
    blobs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
  }

  /** `bytes` decoded by ImageIO; a payload no codec reads fails,
    * naming doc `d`. */
  private def decodedImage(d: Long, bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val img = ioRead(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"undecodable payload for doc $d")
    img
  }
  private def ioWrite(img: java.awt.image.RenderedImage, fmt: String,
                      out: java.io.OutputStream): Unit = {
    imageIoMemCache
    javax.imageio.ImageIO.write(img, fmt, out)
    ()
  }

  /** Attribution wrapper for the audit-tier codec maps (r17): a
    * hostile payload's failure must name its doc_id FROM THE LOG
    * ALONE — at 100 TB the stack trace of executor 731's task is
    * all the operator ever gets to leave behind. Our own `require`
    * messages already carry the id; this re-attributes what the JDK
    * codecs throw (IIOException on a truncated PNG,
    * UnsupportedAudioFileException on a zero-length WAV, …), which
    * otherwise surfaces with no row context. */
  private def attributed[T](docId: Long)(f: => T): T =
    try f catch {
      // pass through only failures that ALREADY name this doc (our
      // own contract requires) — the JDK codecs also throw bare
      // IllegalArgumentException on crafted headers (e.g. a PNG
      // whose IHDR declares zero width), and those need the re-tag
      // like any other codec error (r17 review)
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains(s"doc $docId")) =>
        throw e
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"doc $docId: undecodable payload " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage})", e)
    }

  private def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
    h
  }

  case class PngBlob(doc_id: Long, payload: Array[Byte])
  case class DecodedImage(doc_id: Long, width: Int, height: Int,
                          sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic `side`×`side` RGB PNG per document: pixel i's
    * channels read shifted windows of FNV-1a("doc_id:i") — the same
    * public fold the stub uses, so an oracle can replay the PIXELS
    * without any codec — and a REAL ImageIO PNG encoder writes the
    * bytes. The per-row work is O(side²) with no shuffle; payloads
    * are born on executors and never visit the driver.
    */
  def synthPngCorpus(docs: DataFrame, side: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.spread(docs.select(col("doc_id"))).as[Long].map { d =>
      val img = new java.awt.image.BufferedImage(
        side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < side * side) {
        val h = fnv1a(s"$d:$i")
        val r = ((h >>> 8) & 0xff).toInt
        val g = ((h >>> 16) & 0xff).toInt
        val b = ((h >>> 24) & 0xff).toInt
        img.setRGB(i % side, i / side, (r << 16) | (g << 8) | b)
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ioWrite(img, "png", bos)
      PngBlob(d, bos.toByteArray)
    }.toDF()
  }

  /** REAL-decode audit over an image corpus: whole-blob ImageIO
    * decode, integer per-channel sums. Integer sums are exact and
    * order-independent, and PNG is lossless — so over a
    * [[synthPngCorpus]] input the encode→decode round trip cancels
    * and the output is bit-for-bit oracle-checkable from the pixel
    * recipe alone, proving the REAL codec path end to end (a decoder
    * that flipped channels, dropped a row, or gamma-adjusted would
    * hash-mismatch). Throws on an undecodable payload: this is the
    * audit tier, where silence would hide a broken codec — the
    * never-throw production router is [[decodeFrame]].
    */
  def decodeImageStats(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) =>
        val img = decodedImage(d, bytes)
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        DecodedImage(d, w, h, sr, sg, sb)
      }.toDF()
  }

  /** REAL-codec THUMBNAIL resize (r16 — the `resize` member of the
    * decode / feature-extract / resize / frame-sample multimodal
    * quartet): whole-blob decode, BOX-AVERAGE downsample by integer
    * `factor` (each output channel is the floored mean of its
    * factor×factor block — exact integer arithmetic, no float
    * resampling kernel), real PNG re-encode. Deterministic and
    * oracle-replayable end to end: over a [[synthPngCorpus]] input
    * the decode→average→encode→decode chain returns exactly the
    * recipe's block-floor means (PNG lossless both ways), so the
    * driver key pipes thumbnails through [[decodeImageStats]] and
    * hash-checks the resized pixels themselves. Audit-tier contract:
    * throws on undecodable payloads and on dimensions the integer
    * grid cannot tile ([[phashSignatures]]' discipline — a silent
    * crop inside a resize is how training corpora rot). Per-row
    * O(pixels) with no shuffle; at 100 TB this is the classic
    * embarrassingly-parallel byte-in/byte-out map. */
  def thumbnail(blobs: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) => attributed(d) {
        val img = decodedImage(d, bytes)
        val w = img.getWidth; val h = img.getHeight
        require(w % factor == 0 && h % factor == 0,
          s"doc $d: ${w}x$h not tileable by factor $factor")
        val ow = w / factor; val oh = h / factor
        val out = new java.awt.image.BufferedImage(
          ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val area = factor * factor
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var sr = 0; var sg = 0; var sb = 0
            var y = oy * factor
            while (y < (oy + 1) * factor) {
              var x = ox * factor
              while (x < (ox + 1) * factor) {
                val rgb = img.getRGB(x, y)
                sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
                sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            out.setRGB(ox, oy,
              ((sr / area) << 16) | ((sg / area) << 8) | (sb / area))
            ox += 1
          }
          oy += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        ioWrite(out, "png", bos)
        PngBlob(d, bos.toByteArray)
      } }.toDF()
  }

  /** [[synthPngCorpus]] with PLANTED RE-ENCODED COPIES — the fixture
    * the perceptual tier needs and the chunk tier structurally
    * cannot handle — in BOTH rank directions (r16, the audio offset
    * fixture's convention ported to the dHash tier):
    *
    *  - `doc_id % 20 == 1`: the PIXELS of doc_id−1's recipe (one
    *    channel of one pixel nudged +1, below any perceptual
    *    threshold) written by the JDK's BMP encoder instead of
    *    PNG — a same-resolution re-encode, so min-id and
    *    highest-resolution survivorship agree.
    *  - `doc_id % 20 == 11`: doc_id−1's pixels UPSCALED 2× by
    *    nearest neighbour (each source pixel becomes a constant 2×2
    *    block), BMP-encoded — a RESTORED HI-RES master with the
    *    LARGER id, so the keep-best rank (pixel count desc) picks
    *    the opposite survivor from min-id and the rank ORDERING
    *    itself is oracle-covered, not just the tie-break. The
    *    block-aggregate dHash ([[phashSignatures]]) is exactly
    *    invariant under integer upscales, so the copy still lands
    *    at Hamming 0 from its source.
    *
    * All formats are lossless, so every pixel (original and copy)
    * replays from the FNV recipe alone and the whole corpus stays
    * oracle-checkable without a codec. */
  def synthMixedCorpus(docs: DataFrame, side: Int = 8,
                       dupMod: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.spread(docs.select(col("doc_id"))).as[Long].map { d =>
      val isUpscale = d % (2 * dupMod) == dupMod + 1
      val isCopy = d % dupMod == 1 && !isUpscale
      val src = if (isCopy || isUpscale) d - 1 else d
      val outSide = if (isUpscale) 2 * side else side
      val img = new java.awt.image.BufferedImage(
        outSide, outSide, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < side * side) {
        // DOUBLE FNV fold (re-hash the unsigned-decimal rendering of
        // the first pass): one FNV pass has weak avalanche — gradient
        // SIGNS of near-id documents stay correlated enough to
        // produce sub-threshold Hamming collisions — while the ~20
        // extra multiplies of the second pass fully decorrelate them
        // (measured: natural min distance 8, mean 28 over 500 docs).
        // Unsigned string so DuckDB's HUGEINT cast replays it.
        val h = fnv1a(java.lang.Long.toUnsignedString(fnv1a(s"$src:$i")))
        val r0 = ((h >>> 8) & 0xff).toInt
        val r = if (isCopy && i == 0) (r0 + 1) % 256 else r0
        val g = ((h >>> 16) & 0xff).toInt
        val b = ((h >>> 24) & 0xff).toInt
        val rgb = (r << 16) | (g << 8) | b
        if (isUpscale) {
          // nearest-neighbour 2x: the recipe pixel fills its block
          val x0 = (i % side) * 2; val y0 = (i / side) * 2
          img.setRGB(x0, y0, rgb); img.setRGB(x0 + 1, y0, rgb)
          img.setRGB(x0, y0 + 1, rgb); img.setRGB(x0 + 1, y0 + 1, rgb)
        } else img.setRGB(i % side, i / side, rgb)
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ioWrite(img,
        if (isCopy || isUpscale) "bmp" else "png", bos)
      PngBlob(d, bos.toByteArray)
    }.toDF()
  }

  case class PhashSig(doc_id: Long, dhash: Long, px: Long)

  /** 56-bit dHash over REALLY-decoded pixels: Rec.601 luma kept as
    * the exact INTEGER numerator (299r+587g+114b — no division, no
    * float), one bit per horizontally-adjacent pixel pair
    * (bit y·7+x = 1 ⇔ luma(x+1,y) > luma(x,y)). Gradient signs are
    * what survive re-encoding: any lossless container (and mild
    * lossy noise below the comparison margins) yields the identical
    * hash, so a PNG and its BMP re-encode collide exactly.
    *
    * Scale normalization (r16): an image k·side × k·side folds to
    * the side×side comparison grid by k×k block-aggregate luma —
    * the bit compares block luma SUMS, which over equal-size blocks
    * orders identically to averages with zero division, so the
    * hash stays an exact integer and is EXACTLY invariant under
    * integer-ratio nearest-neighbour resizes (each source pixel is
    * a constant block): a 2× restored master collides with its
    * source at Hamming 0 while carrying 4× the rank-key pixels.
    * k=1 degenerates to the plain per-pixel dHash. Decode throws on
    * undecodable or non-square / non-multiple payloads
    * ([[decodeImageStats]]'s audit discipline). */
  def phashSignatures(blobs: DataFrame, side: Int = 8): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) =>
        val img = decodedImage(d, bytes)
        require(img.getWidth == img.getHeight && img.getWidth % side == 0,
          s"doc $d: expected a square multiple of ${side}x$side, " +
            s"got ${img.getWidth}x${img.getHeight}")
        val k = img.getWidth / side
        def blockLuma(gx: Int, gy: Int): Long = {
          var s = 0L
          var y = gy * k
          while (y < (gy + 1) * k) {
            var x = gx * k
            while (x < (gx + 1) * k) {
              val rgb = img.getRGB(x, y)
              s += 299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                114 * (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          s
        }
        var sig = 0L
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side - 1) {
            if (blockLuma(x + 1, y) > blockLuma(x, y))
              sig |= 1L << (y * (side - 1) + x)
            x += 1
          }
          y += 1
        }
        PhashSig(d, sig, img.getWidth.toLong * img.getHeight)
      }.toDF()
  }

  /** PERCEPTUAL near-dup pairs over decoded pixels — the tier above
    * [[blobNearDupPairs]]'s chunk hashes, which structurally MISS
    * re-encoded copies (a PNG re-written as BMP, or at another
    * compression level, shares zero container bytes; its pixels are
    * identical). Candidates meet in banded equi-joins over the
    * 56-bit [[phashSignatures]] dHash — `bands` slices of
    * 56/bands bits each — then exact Hamming verifies. With
    * bands > maxHamming the banding is LOSSLESS (pigeonhole: ≤
    * maxHamming differing bits cannot touch all bands, so every
    * qualifying pair shares a clean band), which is why the driver
    * key's oracle is the EXHAUSTIVE all-pairs definition with no
    * candidate rule. Bucket sizes are capped (`maxBucket`, the
    * SimHash tier's guard): dHash values of non-dup images are
    * near-uniform (no boilerplate-band analogue), so real corpora
    * never approach the cap and the banding stays lossless — but a
    * corpus of visually-FLAT images (solid fills, letterboxing)
    * concentrates one band value, and without the cap that bucket
    * explodes quadratically. The capped subset is deterministic
    * (smallest `maxBucket` doc_ids per bucket), so the recall trade
    * is replayable, and `MultimodalSpec` pins the concentrated case:
    * a flat corpus's candidate volume is bounded by
    * bands·maxBucket², not n². The banding stays LOSSLESS while
    * buckets sit under the cap — true of the driver fixture with
    * margin (max measured bucket 115 of 5 000 blobs at sf0.1 vs the
    * 256 default), so the exhaustive oracle still holds exactly. */
  def phashPairs(sigs: DataFrame, side: Int = 8, maxHamming: Int = 6,
                 bands: Int = 7, maxBucket: Int = 256): DataFrame = {
    val totalBits = side * (side - 1)
    requireLosslessBands(totalBits, bands, maxHamming)
    // `sigs` is the persisted signature store (the production shape —
    // perceptual hashes are written once per corpus snapshot, two
    // longs per doc): every band group reads it, and none re-runs the
    // decode that is the tier's dominant cost
    bandedHammingPairs(sigs, "dhash", totalBits, maxHamming, bands, maxBucket)
  }

  /** `bands` must tile `totalBits` and exceed `maxHamming`: then
    * any two signatures within `maxHamming` agree on a whole band. */
  private def requireLosslessBands(totalBits: Int, bands: Int, maxHamming: Int): Unit = {
    require(totalBits % bands == 0, s"bands must divide $totalBits, got $bands")
    require(bands > maxHamming,
      s"lossless banding needs bands > maxHamming ($bands vs $maxHamming)")
  }

  /** Pigeonhole-lossless banded Hamming self-join over any integer
    * signature relation — the shared core under the perceptual image
    * ([[phashPairs]]) and audio ([[audioSigPairs]]) tiers: `bands`
    * bit-slices key the candidate buckets (bands > maxHamming makes
    * the banding lossless while buckets stay under `maxBucket` — the
    * pigeonhole argument in [[phashPairs]]'s scaladoc), ONE shuffle
    * on the band key, each bucket folds to its (sorted, capped)
    * member set and pairs expand row-locally, exact Hamming
    * verifies. A degenerate bucket costs O(maxBucket²), not
    * O(bucket²). */
  private def bandedHammingPairs(sg: DataFrame, sigCol: String,
                                 totalBits: Int, maxHamming: Int,
                                 bands: Int, maxBucket: Int): DataFrame =
    bandedHammingMatches(sg, sigCol, totalBits, maxHamming, bands, maxBucket, "h")
      .select("id_a", "id_b", "hamming")

  /** [[bandedHammingPairs]] before the projection: every verified
    * (id_a, id_b) match once per distinct signature pair, the two
    * signatures named `<sigName>_a` and `<sigName>_b`. */
  private def bandedHammingMatches(sg: DataFrame, sigCol: String,
                                   totalBits: Int, maxHamming: Int,
                                   bands: Int, maxBucket: Int,
                                   sigName: String): DataFrame = {
    val bits = totalBits / bands
    val mask = (1L << bits) - 1
    val banded = sg.select(col("doc_id"), col(sigCol).as("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> shiftright($sigCol, b * $bits) & ${mask}L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    banded
      .groupBy("band", "band_bits")
      .agg(collect_set(struct(col("doc_id"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(slice(sort_array(col("ms")), 1, maxBucket).as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as(s"${sigName}_a"), col("b.sig").as(s"${sigName}_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col(s"${sigName}_a").bitwiseXOR(col(s"${sigName}_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-blob perceptual-dup summary — the keep/suppress decision
    * over [[phashPairs]], completing the tier into the same shape as
    * the simhash/minhash summaries: one row per blob, `keep` =
    * false iff a smaller-id perceptual duplicate exists, score =
    * totalBits − hamming (side·(side−1), 56 at the default side = 8)
    * so bigger is more similar. On the planted-copy
    * corpus exactly the BMP re-encodes (doc_id % 10 == 1) read
    * keep = false while their PNG originals survive. */
  def phashSummary(sigs: DataFrame, side: Int = 8, maxHamming: Int = 6,
                   bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.pairSummary(
      sigs.select("doc_id"),
      phashPairs(sigs, side, maxHamming, bands, maxBucket)
        .withColumn("sim", lit(side * (side - 1)) - col("hamming")), "sim")

  /** Transitive closure of [[phashPairs]] — perceptual duplicate
    * GROUPS (a re-encode of a re-encode chains to its root):
    * min-label components via [[Dedup.dedupGroups]]'s adaptive
    * pointer-doubling propagation, one row per blob with its group
    * label and the min-id survivor flag. Completes the perceptual
    * tier's pairs → summary → groups parity with the text dedup
    * family. */
  def phashGroups(sigs: DataFrame, side: Int = 8, maxHamming: Int = 6,
                  bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.dedupGroups(sigs.select("doc_id"),
      phashPairs(sigs, side, maxHamming, bands, maxBucket))

  /** Keep-THE-BEST-copy over the perceptual image groups — the r12
    * text lesson ([[Dedup.keepBest]]) ported to the perceptual tier:
    * min-id survivorship keeps whichever copy crawled first, but the
    * production policy keeps the HIGHEST-RESOLUTION copy (the
    * signature store carries each blob's decoded pixel count — an
    * integer rank key, 8 extra bytes/blob, no second decode), ties
    * broken to min doc_id. One window over the closure's groups;
    * same transitive closure as [[phashGroups]], so the two keys can
    * never disagree about MEMBERSHIP, only about the survivor:
    * `groups` is [[phashGroups]] over the same `sigs`. */
  def phashKeepBest(sigs: DataFrame, groups: DataFrame): DataFrame =
    keepBestOf(groups, sigs.select(col("doc_id"), col("px").as("rank_key")))

  /** Audio twin of [[phashKeepBest]]: the best copy of a perceptual
    * audio group is the LONGEST recording (decoded sample count —
    * the master beats the trimmed/re-leveled derivative), ties to
    * min doc_id; `groups` is [[audioSigGroups]] over the same
    * `sigs`. */
  def audioSigKeepBest(sigs: DataFrame, groups: DataFrame): DataFrame =
    keepBestOf(groups,
      sigs.select(col("doc_id"), col("n_samples").as("rank_key")))

  /** Shared survivor selection under the two perceptual keep-best
    * tiers: one row_number window per group over (rank desc, id). */
  private def keepBestOf(groups: DataFrame, rank: DataFrame): DataFrame = {
    val w = Window.partitionBy("group_id")
      .orderBy(col("rank_key").desc, col("doc_id"))
    groups.drop("keep")
      .join(rank, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "group_id", "rank_key", "keep")
  }

  /** Incremental perceptual dedup — the nightly-ingest shape of the
    * phash tier, completing the family's parity with the text/chunk
    * incremental keys ([[Dedup]]'s `dedup_incremental`,
    * [[incrementalBlobPairs]]): NEW blobs are decoded and hashed
    * once, then matched against the persisted signature STORE
    * (8 bytes per historical blob) via the same
    * pigeonhole-lossless banded equi-join as [[phashPairs]] —
    * history is never re-decoded or re-scanned at payload grain,
    * so a day's ingest costs O(new) codec work + a signature-only
    * join. One row per new blob: match count against the store,
    * the best match (min `(hamming, store_id)` — discrete,
    * tie-free), and keep = no perceptual dup in the store. At
    * scale the banded new side is the small relation and
    * broadcasts; only signatures ever shuffle.
    */
  def phashIncremental(newSigs: DataFrame, storeSigs: DataFrame,
                       side: Int = 8, maxHamming: Int = 6,
                       bands: Int = 7): DataFrame = {
    val totalBits = side * (side - 1)
    requireLosslessBands(totalBits, bands, maxHamming)
    bandedHammingIncremental(newSigs.withColumnRenamed("dhash", "sig"),
      storeSigs.withColumnRenamed("dhash", "sig"),
      totalBits, maxHamming, bands)
  }

  /** Asymmetric new × store banded Hamming probe — the shared
    * incremental core under the perceptual image and audio tiers:
    * only new×history candidates form (history never re-pairs with
    * itself), banding pigeonhole-lossless as in
    * [[bandedHammingPairs]]; one row per new blob with match count,
    * best match (min (hamming, store_id) — discrete, tie-free), and
    * keep = no perceptual dup in the store. Expects (doc_id, sig)
    * relations. */
  private def bandedHammingIncremental(ns: DataFrame, store: DataFrame,
                                       totalBits: Int, maxHamming: Int,
                                       bands: Int): DataFrame = {
    val bits = totalBits / bands
    val mask = (1L << bits) - 1
    def banded(df: DataFrame, id: String, h: String) =
      df.select(col("doc_id").as(id), col("sig").as(h),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"b -> shiftright(sig, b * $bits) & ${mask}L)")))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_bits")
    val pairs = banded(ns, "doc_id", "h_n")
      .join(banded(store, "store_id", "h_s"), Seq("band", "band_bits"))
      .select("doc_id", "store_id", "h_n", "h_s").distinct()
      .withColumn("hamming",
        bit_count(col("h_n").bitwiseXOR(col("h_s"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
    bestStoreMatch(ns.select("doc_id"), pairs, count(lit(1)))
  }

  /** One row per id of `newIds`: `nMatches` over its store matches
    * in `pairs` (doc_id, store_id, hamming), the best match (min
    * (hamming, store_id)) and keep = no match at all. */
  private def bestStoreMatch(newIds: DataFrame, pairs: DataFrame,
                             nMatches: Column): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("hamming"), col("store_id"))
    val best = pairs
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id").agg(
        nMatches.as("n_matches"),
        max(when(col("rn") === 1, col("store_id"))).as("match_id"),
        max(when(col("rn") === 1, col("hamming"))).as("best_hamming"))
    newIds.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("best_hamming"), lit(-1)).cast("int")
          .as("best_hamming"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("keep"))
  }

  /** Transitive closure of [[audioSigPairs]] — perceptual audio
    * duplicate GROUPS (a re-level of a re-level chains to its root):
    * min-label components via [[Dedup.dedupGroups]]'s adaptive
    * pointer-doubling propagation, completing the audio tier's
    * pairs → summary → groups → incremental parity with the image
    * tier. */
  def audioSigGroups(sigs: DataFrame, maxHamming: Int = 6,
                     bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.dedupGroups(sigs.select("doc_id"),
      audioSigPairs(sigs, maxHamming, bands, maxBucket))

  /** Incremental perceptual-audio dedup — the nightly-ingest shape,
    * completing the audio tier's parity with the image/text/chunk
    * incremental keys: NEW audio decodes and signs once, then probes
    * the persisted 8-bytes-per-blob signature STORE via the same
    * pigeonhole-lossless banded join — history pays zero codec work.
    */
  def audioSigIncremental(newSigs: DataFrame, storeSigs: DataFrame,
                          maxHamming: Int = 6, bands: Int = 7): DataFrame = {
    requireLosslessBands(63, bands, maxHamming)
    bandedHammingIncremental(newSigs.withColumnRenamed("asig", "sig"),
      storeSigs.withColumnRenamed("asig", "sig"), 63, maxHamming, bands)
  }

  /** Frames with their predecessor's luma — the shared front half of
    * the two scene-structure keys, so the cut rule cannot drift
    * between them. The window partitions by doc_id (frames per
    * payload are bounded by payload size — no global window), and
    * the luma is the decode router's: exact integer byte-sum over
    * frame length, so the whole relation replays in the oracle. */
  private def framesWithPrev(docs: DataFrame, frameSize: Int,
                             stride: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    decodeFrames(docs, frameSize, stride).toDF()
      .select(col("doc_id"), col("frame_idx"), col("mean_luma"))
      .withColumn("prev_luma", lag("mean_luma", 1).over(w))
  }

  /** Scene-CUT detection over the frame grid — the video-side
    * structure pass (shot boundaries drive frame-sampling budgets:
    * one keyframe per shot beats every-Nth-frame for training-data
    * coverage). A cut is a jump in consecutive frames' mean luma
    * above `threshold` — the classical intensity-delta detector, on
    * the stub decode's exact-rational luma so the cut set is
    * bit-deterministic (swap the real codec in and only the luma
    * values change, the plan shape stays). Cost: the frame explode +
    * one per-doc window — no shuffle beyond the doc_id partition. */
  def sceneCuts(docs: DataFrame, frameSize: Int = 64, stride: Int = 128,
                threshold: Double = 6.0): DataFrame =
    framesWithPrev(docs, frameSize, stride)
      .filter(col("prev_luma").isNotNull &&
        abs(col("mean_luma") - col("prev_luma")) > threshold)
      .select(col("doc_id"), col("frame_idx"),
        round(col("prev_luma"), 6).as("prev_luma"),
        round(col("mean_luma"), 6).as("luma"),
        round(abs(col("mean_luma") - col("prev_luma")), 6).as("delta"))

  /** Per-payload SHOT structure summary over the same cut rule:
    * frame count, cut count, shot count (cuts + 1), and mean shot
    * length — the manifest a frame-sampling budget reads (long
    * static shots sample sparsely, rapid cutting samples densely).
    * Shares [[sceneCuts]]' front half verbatim. */
  def shotStats(docs: DataFrame, frameSize: Int = 64, stride: Int = 128,
                threshold: Double = 6.0): DataFrame =
    framesWithPrev(docs, frameSize, stride)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("prev_luma").isNotNull &&
          abs(col("mean_luma") - col("prev_luma")) > threshold, 1L)
          .otherwise(0L)).as("n_cuts"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        (col("n_cuts") + 1L).as("n_shots"),
        round(col("n_frames") / (col("n_cuts") + lit(1.0)), 6)
          .as("avg_shot_len"))

  /** KEYFRAME selection — the budget consumer of the scene
    * structure: one frame per shot (the shot's FIRST frame — frame 0
    * plus every cut frame), the sampling policy that beats
    * every-Nth-frame for coverage because static shots contribute
    * one frame no matter how long they run while rapid cutting
    * contributes one per cut. `shot_idx` numbers the shots in
    * playback order. Same shared cut rule as [[sceneCuts]] /
    * [[shotStats]] — the three keys cannot disagree on where a shot
    * starts (spec holds keyframes-per-doc == n_shots). */
  def keyframeSample(docs: DataFrame, frameSize: Int = 64,
                     stride: Int = 128, threshold: Double = 6.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    framesWithPrev(docs, frameSize, stride)
      .filter(col("frame_idx") === 0 ||
        (col("prev_luma").isNotNull &&
          abs(col("mean_luma") - col("prev_luma")) > threshold))
      .select(col("doc_id"), col("frame_idx"),
        (row_number().over(w) - 1).cast("long").as("shot_idx"),
        round(col("mean_luma"), 6).as("luma"))
  }

  /** Per-document pooled feature embedding: decode frames, mean-pool
    * their (stub) features into one `array<float>` per document —
    * the bridge from binary payloads into the [[Similarity]] ANN /
    * [[Dedup]] embedding operators (`embedding-cosine dedup over
    * video corpora` is exactly this composition). Pooling is an
    * ordinary partial-friendly aggregate; with a real encoder the
    * mapPartitions step emits model features and nothing else
    * changes.
    */
  def pooledFeatures(docs: DataFrame, frameSize: Int = 64,
                     stride: Int = 128): DataFrame =
    decodeFrames(docs, frameSize, stride).toDF()
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames"),
        array(
          avg("width").cast("float"),
          avg("height").cast("float"),
          avg("mean_luma").cast("float"),
          stddev_pop("mean_luma").cast("float")).as("embedding"))

  /** Format policy over the [[typeSummary]] manifest — the multimodal
    * twin of `docs_source_policy`: which sniffed formats the decoder
    * fleet DROPs (below `minCount`, long-tail formats not worth a
    * decoder), CAPs (above `maxByteShare` of corpus bytes — one
    * format must not monopolize training), or KEEPs. `byte_share` is
    * one division of two exact longs, so the thresholds replay
    * bit-for-bit in any engine. The decision table is O(formats)
    * rows; the partition-less share window is bounded by the format
    * universe (256² magic pairs), correct by construction.
    */
  def blobPolicy(docs: DataFrame, minCount: Long = 3L,
                 maxByteShare: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    typeSummary(docs)
      .withColumn("byte_share",
        col("total_bytes").cast("double") /
          sum("total_bytes").over(all).cast("double"))
      .withColumn("action",
        when(col("n_blobs") < minCount, "drop")
          .when(col("byte_share") > maxByteShare, "cap")
          .otherwise("keep"))
      .select("magic2", "n_blobs", "total_bytes", "byte_share", "action")
  }

  /** Format-mix drift between corpus halves — the multimodal
    * spelling of `events_type_psi`: categorical PSI over the sniffed
    * magic2 formats, halves split at the doc_id midpoint (ingest
    * order — documents carry no timestamp). The "crawl composition
    * is shifting" alarm for a binary corpus: a format appearing or
    * dying between halves produces a large FINITE term (Laplace
    * smoothing over the format universe), and the decoder-fleet
    * sizing that [[blobPolicy]] froze yesterday stops matching the
    * feed. One payload scan into an O(formats) relation; the windows
    * run over that bounded relation only.
    */
  def formatPsi(docs: DataFrame): DataFrame = {
    val counts = asBlobs(docs)
      .select(hex(substring(col("payload"), 1, 2)).as("magic2"),
        col("doc_id"))
      .crossJoin(broadcast(docs.agg(
        floor((min("doc_id") + max("doc_id")) / 2).cast("long").as("mid"))))
      .groupBy("magic2")
      .agg(
        sum(when(col("doc_id") <= col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("doc_id") <= col("mid"), 0L).otherwise(1L)).as("n_b"))
    EventOps.categoricalPsi(counts, "magic2")
  }

  private def wavStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))

  /** The format and sample bytes of WAV `bytes`; anything but MONO
    * signed 16-bit PCM fails, naming doc `d`. */
  private def monoPcm16(d: Long, bytes: Array[Byte])
      : (javax.sound.sampled.AudioFormat, Array[Byte]) = {
    val ais = wavStream(bytes)
    val fmt = ais.getFormat
    require(fmt.getEncoding ==
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
      fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
      s"doc $d: expected MONO signed 16-bit PCM, got $fmt")
    (fmt, ais.readAllBytes())
  }

  /** Sample `i` of 16-bit PCM `data`, sign-extended; `le` when the
    * bytes are little-endian. */
  private def sample16(data: Array[Byte], le: Boolean, i: Int): Int = {
    val lo = data(if (le) 2 * i else 2 * i + 1) & 0xff
    val hi = data(if (le) 2 * i + 1 else 2 * i).toInt
    (hi << 8) | lo
  }

  case class WavBlob(doc_id: Long, payload: Array[Byte])

  /** Doc `d`'s WAV container around `n` mono signed 16-bit
    * little-endian samples `pcm` at `sampleRate`, written by the
    * JDK's WAV writer. */
  private def wavBlob(d: Long, pcm: Array[Byte], sampleRate: Float, n: Long): WavBlob = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    WavBlob(d, bos.toByteArray)
  }
  case class DecodedAudio(doc_id: Long, sample_rate: Int, channels: Int,
                          n_samples: Long, sum_samples: Long, sum_abs: Long)

  /** Deterministic mono 16-bit PCM WAV per document: sample i is the
    * sign-extended low-16 window of FNV-1a("doc_id:i") — the same
    * public fold [[synthPngCorpus]] reads for pixels, so an oracle
    * can replay the SAMPLES without any codec — and the JDK's real
    * WAV writer (`javax.sound.sampled.AudioSystem.write`) produces
    * the container bytes. O(nSamples) per row, no shuffle; payloads
    * are born on executors and never visit the driver.
    */
  def synthWavCorpus(docs: DataFrame, nSamples: Int = 64,
                     sampleRate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NO input spread here (unlike the image synths): the per-row
    // PCM work is microseconds, and javax.sound's service-loader
    // init is paid PER TASK — spreading to 32 tasks measured 3x
    // slower than the single-split scan
    docs.select(col("doc_id")).as[Long].map { d =>
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val h = fnv1a(s"$d:$i")
        // low 16 bits of the shifted window, sign-extended to int16
        val v = (((h >>> 8) & 0xffffL).toInt << 16) >> 16
        pcm(2 * i) = (v & 0xff).toByte // PCM WAV is little-endian
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      wavBlob(d, pcm, sampleRate.toFloat, nSamples)
    }.toDF()
  }

  /** The perceptual-audio fixture: [[synthWavCorpus]] plus planted
    * copies in BOTH rank directions (r16, completing the audio twin
    * of the phash BMP-re-encode story):
    *
    *  - `doc_id % 20 == 1`: the previous doc's samples
    *    truncation-halved (v/2 toward zero, the exact op both
    *    engines replay) — a VOLUME-SCALED re-level of the same
    *    recording, same length, so min-id and longest-recording
    *    survivorship agree. The chunk/byte tiers structurally miss
    *    it (every PCM byte differs); the sign-of-delta signature is
    *    amplitude-invariant up to truncation ties.
    *  - `doc_id % 20 == 11`: the previous doc's samples UNSCALED
    *    with `nSamples/2` extra samples appended, keyed by the
    *    extension doc's OWN id block (which its recipe never
    *    otherwise uses, so they alias nothing) — a RESTORED LONGER
    *    master with the LARGER id. The signature window reads
    *    samples [0, 64) only, so it collides at Hamming 0 while
    *    `n_samples` carries the larger rank key, and the keep-best
    *    rank ORDERING (not just the min-id tie-break) is
    *    oracle-covered.
    */
  def synthScaledWavCorpus(docs: DataFrame, nSamples: Int = 64,
                           sampleRate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { d =>
      val isExt = d % 20 == 11
      val isScaled = d % 10 == 1 && !isExt
      val src = if (isScaled || isExt) d - 1 else d
      val n = if (isExt) nSamples + nSamples / 2 else nSamples
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        // xxhash64 (Spark's XXH64), NOT the FNV recipe of
        // [[synthWavCorpus]], deliberately: the sign-of-DELTA
        // signature compares consecutive samples, and FNV-1a of
        // "d:i" strings barely avalanches between adjacent i (the
        // final-digit xor+multiply moves the 8..23-bit window by
        // ~δ·435/256) — the delta signs collapse to ~50 distinct
        // patterns per 500 docs. One xxhash64 round over the packed
        // (src, i) key restores full per-sample independence:
        // measured exactly the 50 planted copies pair at sf0.01 and
        // min cross-doc Hamming ≈ 13 at sf0.1 scale.
        // stride = nSamples so adjacent docs' sample keys can never
        // collide at ANY nSamples (a hardcoded 64 would alias doc d
        // sample i>=64 with doc d+1 sample i-64); the DuckDB replay
        // (audioSigCtes) pins the driver fixture's nSamples = 64
        // the extension tail (i >= nSamples) keys on the copy's OWN
        // id block — the copy's recipe never uses it for i < nSamples
        // (those read the source's block), so nothing aliases
        val key = if (isExt && i >= nSamples) d * nSamples.toLong + (i - nSamples)
          else src * nSamples.toLong + i
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(key, 42L)
        val v0 = (((h >>> 8) & 0xffffL).toInt << 16) >> 16
        val v = if (isScaled) v0 / 2 else v0
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      wavBlob(d, pcm, sampleRate.toFloat, n)
    }.toDF()
  }

  case class AudioSig(doc_id: Long, asig: Long, n_samples: Long)

  /** Perceptual audio signature over REALLY-decoded PCM — the audio
    * dHash: 63 sign-of-delta bits over the first 64 samples (bit i =
    * sample(i+1) > sample(i)). Amplitude-INVARIANT for any positive
    * re-leveling up to truncation ties (scaling preserves strict
    * comparisons except where quantization collapses a ±1 step), so
    * a volume-changed copy lands within a small Hamming radius of
    * its source while the container bytes share nothing. MONO 16-bit
    * audit-tier contract like [[audioFeatures]]; requires ≥ 64
    * samples (signatures compare equal-length windows). */
  def audioSignatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) =>
        val (fmt, data) = monoPcm16(d, bytes)
        require(data.length >= 128,
          s"doc $d: signature needs >= 64 samples, got ${data.length / 2}")
        val le = !fmt.isBigEndian
        def smp(i: Int): Int = sample16(data, le, i)
        var sig = 0L
        var i = 0
        while (i < 63) {
          if (smp(i + 1) > smp(i)) sig |= 1L << i
          i += 1
        }
        AudioSig(d, sig, data.length.toLong / 2)
      }.toDF()
  }

  /** The OFFSET-copy fixture: every doc is a 192-sample recording
    * (xxhash64 recipe, stride = nSamples so sample keys never alias
    * across docs), and two planted edit kinds exercise BOTH
    * directions of the offset problem (and, since r15, both
    * directions of the keep-best rank):
    *
    *  - `doc_id % 20 == 1`: the previous doc's samples with the
    *    first `trim` cut — a trimmed re-master, the commonest audio
    *    edit after re-leveling. The SHORTER copy has the LARGER id,
    *    so min-id survivorship and longest-rank survivorship agree.
    *  - `doc_id % 20 == 11` (r15): the previous doc's FULL samples
    *    with `trim` new samples prepended (keyed by the extension
    *    doc's OWN id block, so they alias nothing) — a re-master
    *    that RESTORES a longer master. Here the LONGER recording has
    *    the LARGER id, so the keep-best rank key (n_samples desc)
    *    picks the opposite survivor from min-id — the ordering
    *    itself is oracle-covered, not just the tie-break (r14
    *    ADVICE).
    *
    * The prefix tier ([[audioSignatures]]) PROVABLY misses both
    * kinds (its window reads samples [0, 64) — the trim's are the
    * source's [trim, trim+64) and the extension's are its own fresh
    * prefix); the winnowed tier below catches them. */
  def synthOffsetWavCorpus(docs: DataFrame, nSamples: Int = 192,
                           trim: Int = 37, sampleRate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { d =>
      val isTrim = d % 20 == 1
      val isExt = d % 20 == 11
      val src = if (isTrim || isExt) d - 1 else d
      val n = if (isTrim) nSamples - trim
        else if (isExt) nSamples + trim else nSamples
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        // trim: source keys [trim, nSamples); extension: own keys
        // [0, trim) then source keys [0, nSamples) — the prepended
        // samples live in doc d's otherwise-unused key block
        val key = if (isTrim) src * nSamples.toLong + (i + trim)
          else if (isExt && i < trim) d * nSamples.toLong + i
          else if (isExt) src * nSamples.toLong + (i - trim)
          else src * nSamples.toLong + i
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(key, 42L)
        val v = (((h >>> 8) & 0xffffL).toInt << 16) >> 16
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      wavBlob(d, pcm, sampleRate.toFloat, n)
    }.toDF()
  }

  case class AudioWinnowSig(doc_id: Long, wsig: Long, n_samples: Long)

  /** OFFSET-ROBUST audio fingerprints — the text-winnowing idea on
    * PCM, fixing the prefix tier's alignment blindness: the 63-bit
    * sign-of-delta signature computes at EVERY window position (an
    * O(n) bit-slide over the delta bitstring, not O(n·63) — sig(p+1)
    * = sig(p) >> 1 | nextBit << 62), then winnowing selects the MIN
    * signature of each `wSel`-position window (one global window
    * when fewer positions exist) and the doc's fingerprint set is
    * the distinct selected values. The standard winnowing guarantee
    * applies: two recordings sharing ≥ win + wSel − 1 contiguous
    * samples share ≥ 1 selected fingerprint at ANY offset, so a
    * trimmed/padded copy meets its master in an equi-join bucket —
    * no alignment assumption anywhere. Fingerprint count is
    * O(n / wSel) per doc (8 bytes each — the persisted store
    * stays tiny); amplitude-invariance carries over from the
    * sign-of-delta base. */
  def audioWinnowSignatures(blobs: DataFrame, win: Int = 64,
                            wSel: Int = 16): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .flatMap { case (d, bytes) =>
        val (fmt, data) = monoPcm16(d, bytes)
        val n = data.length / 2
        require(n >= win,
          s"doc $d: winnow signatures need >= $win samples, got $n")
        val le = !fmt.isBigEndian
        def smp(i: Int): Int = sample16(data, le, i)
        val nPos = n - win + 1
        val sigs = new Array[Long](nPos)
        var s = 0L
        var j = 0
        while (j < win - 1) { if (smp(j + 1) > smp(j)) s |= 1L << j; j += 1 }
        sigs(0) = s
        var p = 1
        while (p < nPos) {
          s = (s >>> 1) |
            (if (smp(p + win - 1) > smp(p + win - 2)) 1L << (win - 2) else 0L)
          sigs(p) = s
          p += 1
        }
        val sel = scala.collection.mutable.SortedSet.empty[Long]
        val lastW = math.max(nPos - wSel, 0)
        var w = 0
        while (w <= lastW) {
          var mv = Long.MaxValue
          var q = w
          val end = math.min(w + wSel, nPos)
          while (q < end) { if (sigs(q) < mv) mv = sigs(q); q += 1 }
          sel += mv
          w += 1
        }
        sel.iterator.map(AudioWinnowSig(d, _, n.toLong)).toSeq
      }.toDF()
  }

  /** Offset-robust perceptual audio PAIRS over the winnowed
    * fingerprints. DEFAULT (`maxHamming = 0`) is the production
    * fingerprint-match design (winnowing/Shazam lineage): doc pairs
    * form on EXACTLY-shared fingerprints — robustness to
    * re-leveling comes from REDUNDANCY (a doc carries O(n/wSel)
    * fingerprints; one surviving shared fingerprint suffices), not
    * from per-fingerprint tolerance, so the join is a plain
    * equi-join on the 63-bit value with capped buckets and scales
    * like exact dedup. `maxHamming > 0` switches to the banded
    * Hamming verify (7 × 9-bit slices, pigeonhole-lossless per
    * fingerprint pair — spec-exercised; measured 26× the join
    * volume of the exact path at sf0.1, which is why it is the
    * non-default tier). Doc pairs fold to best (minimum) Hamming
    * plus the qualifying fingerprint-pair count. On the offset
    * fixture exactly the trimmed copies pair with their masters —
    * the pairs the prefix tier provably misses (spec-pinned, the
    * mm_phash_pairs pattern). */
  def audioWinnowPairs(sigs: DataFrame, maxHamming: Int = 0,
                       bands: Int = 7, maxBucket: Int = 256): DataFrame = {
    requireLosslessBands(63, bands, maxHamming)
    if (maxHamming == 0) {
      return bucketPairs(sigs, "wsig", maxBucket)
        .groupBy("id_a", "id_b")
        .agg(min(lit(0)).cast("int").as("best_hamming"),
          count(lit(1)).as("n_shared"))
    }
    bandedHammingMatches(sigs, "wsig", 63, maxHamming, bands, maxBucket, "s")
      .groupBy("id_a", "id_b")
      .agg(min(col("hamming")).cast("int").as("best_hamming"),
        count(lit(1)).as("n_shared"))
  }

  /** Per-blob offset-duplicate summary — the keep/suppress decision
    * over [[audioWinnowPairs]], completing the winnow tier into the
    * same pairs → dedup → groups → incremental shape as every other
    * perceptual tier: keep = no smaller-id offset-duplicate, score =
    * the shared-fingerprint count (bigger = more shared audio). */
  def audioWinnowDedup(sigs: DataFrame, maxHamming: Int = 0,
                       bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.pairSummary(
      sigs.select("doc_id").distinct(),
      audioWinnowPairs(sigs, maxHamming, bands, maxBucket)
        .withColumn("sim", col("n_shared").cast("double")), "sim")

  /** Transitive closure of [[audioWinnowPairs]] — OFFSET-duplicate
    * GROUPS (a trim of a trim chains to its master): min-label
    * components via [[Dedup.dedupGroups]]'s pointer-doubling
    * propagation, completing the winnow tier's pairs → groups →
    * incremental parity with the other perceptual tiers. */
  def audioWinnowGroups(sigs: DataFrame, maxHamming: Int = 0,
                        bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.dedupGroups(sigs.select("doc_id").distinct(),
      audioWinnowPairs(sigs, maxHamming, bands, maxBucket))

  /** Nightly-ingest twin of [[audioWinnowPairs]]: NEW audio decodes
    * and winnows once, then its fingerprints probe the persisted
    * store via the same banded join — history pays zero codec or
    * winnow work. One row per new blob: count of store docs it
    * collides with, best match on the discrete (hamming, store_id)
    * cut, keep = no offset-duplicate in the store. */
  def audioWinnowIncremental(newSigs: DataFrame, storeSigs: DataFrame,
                             maxHamming: Int = 0, bands: Int = 7): DataFrame = {
    require(63 % bands == 0 && bands > maxHamming, "lossless banding")
    if (maxHamming == 0) {
      return exactStoreMatch(newSigs, storeSigs, "wsig")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("match_id"), lit(-1L)).as("match_id"),
          when(col("n_matches").isNotNull, lit(0)).otherwise(lit(-1))
            .cast("int").as("best_hamming"),
          col("n_matches").isNull.as("keep"))
    }
    val bits = 63 / bands
    val mask = (1L << bits) - 1
    def banded(df: DataFrame, id: String) =
      df.select(col("doc_id").as(id), col("wsig").as(s"sig_$id"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"b -> shiftright(wsig, b * $bits) & ${mask}L)")))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_bits")
    // Hamming filters BEFORE the dedup: the band join emits up to
    // `bands`× duplicated candidate rows and bit_count is a codegen'd
    // scalar, so filtering first leaves the 4-column distinct a
    // survivor-sized set instead of the whole join output (measured
    // 6.9 s → sub-second at sf0.1)
    val qualifying = banded(newSigs, "doc_id")
      .join(banded(storeSigs, "store_id"), Seq("band", "band_bits"))
      .withColumn("hamming", bit_count(
        col("sig_doc_id").bitwiseXOR(col("sig_store_id"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id", "store_id", "sig_doc_id", "sig_store_id", "hamming")
      .distinct()
    bestStoreMatch(newSigs.select("doc_id").distinct(), qualifying,
      countDistinct(col("store_id")))
  }

  /** Keep-THE-BEST-copy over the OFFSET-duplicate groups — the
    * winnow twin of [[audioSigKeepBest]], and the first keep-best
    * whose rank ORDERING (not just the min-id tie-break) is
    * oracle-covered: the offset fixture's extension docs
    * (doc_id % 20 == 11) are LONGER than their smaller-id masters,
    * so the longest-recording policy picks the larger id there while
    * picking the smaller id for trimmed copies — any rank-key bug
    * flips real rows. Rank = decoded sample count, carried on the
    * winnow fingerprint store (no second decode), ties to min id;
    * same closure as [[audioWinnowGroups]] (`groups`, over the same
    * `sigs`), so membership can never disagree between the two keys. */
  def audioWinnowKeepBest(sigs: DataFrame, groups: DataFrame): DataFrame =
    keepBestOf(groups,
      sigs.groupBy("doc_id").agg(max(col("n_samples")).as("rank_key")))

  /** The CROPPED/PADDED-copy image fixture — the symmetric hole the
    * audio offset fixture closed for trims, with both rank
    * directions planted (the audio fixture's r15 convention): every
    * doc is a `side`×`side` image (the [[synthMixedCorpus]]
    * double-FNV pixel recipe at the larger side), and two edit kinds
    * derive from the previous doc:
    *
    *  - `doc_id % 20 == 1`: the `cropSide`×`cropSide` CROP of the
    *    previous doc's pixels at offset (`dx`, `dy`), re-encoded as
    *    BMP — the SMALLER copy has the larger id, so min-id and
    *    highest-resolution survivorship agree.
    *  - `doc_id % 20 == 11`: the previous doc's FULL pixels PADDED
    *    into a `padSide`×`padSide` canvas at the same offset, the
    *    border filled from the copy's OWN pixel recipe (aliasing
    *    nothing) — a restored master LARGER than its smaller-id
    *    source, so the keep-best rank (pixel count desc) picks the
    *    opposite survivor from min-id and the ordering itself is
    *    oracle-covered.
    *
    * The whole-image tier ([[phashSignatures]]) structurally CANNOT
    * match either kind — different geometries hashing shifted pixel
    * sets; its uniform-side contract rejects the mixed corpus
    * outright — while the tiled winnow tier catches both. */
  def synthCropPngCorpus(docs: DataFrame, side: Int = 12,
                         cropSide: Int = 8, padSide: Int = 16,
                         dx: Int = 2, dy: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.spread(docs.select(col("doc_id"))).as[Long].map { d =>
      val isCrop = d % 20 == 1
      val isPad = d % 20 == 11
      val src = if (isCrop || isPad) d - 1 else d
      val w = if (isCrop) cropSide else if (isPad) padSide else side
      val img = new java.awt.image.BufferedImage(
        w, w, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < w) {
        var x = 0
        while (x < w) {
          // crop: pixel (x, y) is the SOURCE's (x+dx, y+dy); pad:
          // the interior window holds the source's full raster, the
          // border keys into the copy's OWN (otherwise unused)
          // recipe — all index arithmetic, so the oracle replays it
          val interior = isPad && x >= dx && x < dx + side &&
            y >= dy && y < dy + side
          val (keyId, i) =
            if (isCrop) (src, (y + dy) * side + (x + dx))
            else if (interior) (src, (y - dy) * side + (x - dx))
            else if (isPad) (d, y * padSide + x)
            else (src, y * side + x)
          val h = fnv1a(java.lang.Long.toUnsignedString(fnv1a(s"$keyId:$i")))
          val r = ((h >>> 8) & 0xff).toInt
          val g = ((h >>> 16) & 0xff).toInt
          val b = ((h >>> 24) & 0xff).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ioWrite(img,
        if (isCrop || isPad) "bmp" else "png", bos)
      PngBlob(d, bos.toByteArray)
    }.toDF()
  }

  case class ImageWinnowSig(doc_id: Long, fp: Long, px: Long)

  /** CROP-ROBUST image fingerprints — [[audioWinnowSignatures]]'s
    * design on pixels: a `tile`×`tile` gradient signature computes
    * at EVERY tile position of the decoded image (horizontal bits
    * tile·(tile−1) + vertical (tile−1)·tile = 40 bits at the
    * default tile = 5 — pure CONTENT bits, no absolute coordinates,
    * so a crop shifts a tile's position but never its fingerprint),
    * then 2-D winnowing selects the MIN fingerprint of each
    * `win`×`win` window of the tile grid and the doc's fingerprint
    * set is the distinct selected values. The 2-D winnowing
    * guarantee (Schleimer–Wilkerson–Aiken §5): two images sharing
    * any axis-aligned pixel region of ≥ tile + win − 1 per side
    * share a complete win×win tile window, hence ≥ 1 selected
    * fingerprint, at ANY crop offset. Fingerprint count is
    * O(w·h / win²) per image (8 bytes each); decode cost is the
    * same single pass the whole-image hash pays. Images smaller
    * than the guarantee bound still fingerprint (the window clamps
    * to the grid, the audio tier's convention) — they just carry a
    * weaker guarantee. */
  def imageWinnowSignatures(blobs: DataFrame, tile: Int = 5,
                            win: Int = 3): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .flatMap { case (d, bytes) =>
        val img = decodedImage(d, bytes)
        val w = img.getWidth
        val h = img.getHeight
        require(w >= tile && h >= tile,
          s"doc $d: winnow tiles need >= ${tile}x$tile pixels, got ${w}x$h")
        val lum = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            lum(y * w + x) = 299 * ((rgb >> 16) & 0xff) +
              587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        val gw = w - tile + 1
        val gh = h - tile + 1
        val hp = tile - 1 // comparisons per row/col inside a tile
        val fps = new Array[Long](gw * gh)
        var ty = 0
        while (ty < gh) {
          var tx = 0
          while (tx < gw) {
            var fp = 0L
            var r = 0
            while (r < tile) { // horizontal gradients: bit r·hp + c
              var c = 0
              while (c < hp) {
                if (lum((ty + r) * w + tx + c + 1) >
                    lum((ty + r) * w + tx + c))
                  fp |= 1L << (r * hp + c)
                c += 1
              }
              r += 1
            }
            var cc = 0
            while (cc < tile) { // vertical gradients: bit t·hp + c·hp + r
              var rr = 0
              while (rr < hp) {
                if (lum((ty + rr + 1) * w + tx + cc) >
                    lum((ty + rr) * w + tx + cc))
                  fp |= 1L << (tile * hp + cc * hp + rr)
                rr += 1
              }
              cc += 1
            }
            fps(ty * gw + tx) = fp
            tx += 1
          }
          ty += 1
        }
        val sel = scala.collection.mutable.SortedSet.empty[Long]
        val lastWx = math.max(gw - win, 0)
        val lastWy = math.max(gh - win, 0)
        var wy = 0
        while (wy <= lastWy) {
          var wx = 0
          while (wx <= lastWx) {
            var mv = Long.MaxValue
            var qy = wy
            val endY = math.min(wy + win, gh)
            val endX = math.min(wx + win, gw)
            while (qy < endY) {
              var qx = wx
              while (qx < endX) {
                val v = fps(qy * gw + qx)
                if (v < mv) mv = v
                qx += 1
              }
              qy += 1
            }
            sel += mv
            wx += 1
          }
          wy += 1
        }
        sel.iterator.map(ImageWinnowSig(d, _, w.toLong * h)).toSeq
      }.toDF()
  }

  /** Crop-robust perceptual image PAIRS over the winnowed tile
    * fingerprints — [[audioWinnowPairs]]'s production design
    * verbatim: doc pairs form on EXACTLY-shared fingerprints (a
    * plain equi-join on the 40-bit value with `maxBucket`-capped,
    * deterministically-sorted buckets — scales like exact dedup);
    * robustness to crop offset comes from REDUNDANCY across the
    * O(w·h/win²) fingerprints, not per-fingerprint tolerance. Doc
    * pairs fold to the shared-fingerprint count. On the crop
    * fixture exactly the cropped copies pair with their masters —
    * pairs the whole-image tier structurally cannot see
    * (spec-pinned, the audio-winnow pattern). */
  def imageWinnowPairs(sigs: DataFrame, maxBucket: Int = 256): DataFrame =
    bucketPairs(sigs, "fp", maxBucket)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))

  /** Every doc pair (id_a < id_b) sharing a `key` value, one row per
    * shared value; each bucket keeps its `maxBucket` smallest ids. */
  private def bucketPairs(sigs: DataFrame, key: String, maxBucket: Int): DataFrame =
    sigs.groupBy(key)
      .agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(slice(sort_array(col("ds")), 1, maxBucket).as("ds"))
      .select(explode(col("ds")).as("id_a"), col("ds"))
      .select(col("id_a"), explode(col("ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))

  /** Per-blob crop-duplicate summary over [[imageWinnowPairs]]:
    * keep = no smaller-id crop-duplicate, score = the shared
    * fingerprint count (bigger = more shared image area). */
  def imageWinnowDedup(sigs: DataFrame, maxBucket: Int = 256): DataFrame =
    Dedup.pairSummary(
      sigs.select("doc_id").distinct(),
      imageWinnowPairs(sigs, maxBucket)
        .withColumn("sim", col("n_shared").cast("double")), "sim")

  /** Transitive closure of [[imageWinnowPairs]] — CROP-duplicate
    * GROUPS (a crop of a crop chains to its master): min-label
    * components via [[Dedup.dedupGroups]], one row per blob. */
  def imageWinnowGroups(sigs: DataFrame, maxBucket: Int = 256): DataFrame =
    Dedup.dedupGroups(sigs.select("doc_id").distinct(),
      imageWinnowPairs(sigs, maxBucket))

  /** Keep-THE-BEST-copy over the CROP-duplicate groups — the image
    * twin of [[audioWinnowKeepBest]], with the same oracle-covered
    * rank ORDERING: the crop fixture varies decoded pixel count in
    * both directions (crops smaller than their smaller-id masters,
    * padded restorations LARGER), so the highest-resolution policy
    * picks the larger id on padded groups where min-id would pick
    * the smaller. Rank = pixel count carried on the winnow
    * fingerprint store (no second decode), ties to min id; same
    * closure as [[imageWinnowGroups]] (`groups`, over the same
    * `sigs`). */
  def imageWinnowKeepBest(sigs: DataFrame, groups: DataFrame): DataFrame =
    keepBestOf(groups,
      sigs.groupBy("doc_id").agg(max(col("px")).as("rank_key")))

  /** Each new doc left-joined to its exact `key` matches in the
    * store: distinct matching store ids counted as `n_matches`, the
    * smallest as `match_id` (both null when nothing matches). */
  private def exactStoreMatch(newSigs: DataFrame, storeSigs: DataFrame,
                              key: String): DataFrame = {
    val p = newSigs.join(storeSigs
        .select(col("doc_id").as("store_id"), col(key)), Seq(key))
      .select("doc_id", "store_id").distinct()
    val best = p.groupBy("doc_id").agg(
      count(lit(1)).as("n_matches"),
      min(col("store_id")).as("match_id"))
    newSigs.select("doc_id").distinct()
      .join(best, Seq("doc_id"), "left")
  }

  /** Nightly-ingest twin of [[imageWinnowPairs]]: NEW images decode
    * and winnow once, their fingerprints probe the persisted store
    * by exact equi-join — history pays zero codec work. One row per
    * new blob: distinct store docs sharing a fingerprint, best
    * match (min store_id — every match is exact), keep = no
    * crop-duplicate in the store. */
  def imageWinnowIncremental(newSigs: DataFrame,
                             storeSigs: DataFrame): DataFrame = {
    exactStoreMatch(newSigs, storeSigs, "fp")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        col("n_matches").isNull.as("keep"))
  }

  /** Perceptual near-dup pairs over audio signatures — the
    * [[phashPairs]] machinery on the 63-bit sign-of-delta hash
    * (7 bands × 9 bits; bands > maxHamming keeps the banding
    * pigeonhole-LOSSLESS under the bucket cap, so the driver key's
    * oracle is the EXHAUSTIVE all-pairs definition with no candidate
    * rule). On the scaled-copy fixture exactly the re-leveled copies
    * pair with their sources. */
  def audioSigPairs(sigs: DataFrame, maxHamming: Int = 6,
                    bands: Int = 7, maxBucket: Int = 256): DataFrame = {
    requireLosslessBands(63, bands, maxHamming)
    bandedHammingPairs(sigs, "asig", 63, maxHamming, bands, maxBucket)
  }

  /** Per-blob perceptual-audio dup summary — keep = no smaller-id
    * perceptual duplicate, score = 63 − hamming; completes the audio
    * tier into the same pairs → summary shape as phash/simhash. */
  def audioSigDedup(sigs: DataFrame, maxHamming: Int = 6,
                    bands: Int = 7, maxBucket: Int = 256): DataFrame =
    Dedup.pairSummary(
      sigs.select("doc_id"),
      audioSigPairs(sigs, maxHamming, bands, maxBucket)
        .withColumn("sim", lit(63) - col("hamming")), "sim")

  case class AudioFeatures(doc_id: Long, n_samples: Long, rms: Double,
                           peak_abs: Long, zero_crossings: Long)

  /** Feature extraction over REALLY-decoded audio — the step after
    * [[decodeAudioStats]] proves the codec: per document, the
    * classic cheap audio descriptors computed from the actual PCM
    * samples (not the container bytes): RMS energy, peak amplitude,
    * and zero-crossing count (the crude voiced/unvoiced + noisiness
    * signal). All three derive from exact integer arithmetic —
    * Σv² of 16-bit samples is an exact long, the crossing count and
    * peak are integers, and rms is ONE sqrt of one exact-integer
    * division — so the whole row replays bit-for-bit from the
    * synthesis recipe, codec round trip included. Zero-crossing
    * convention: a crossing is a sign-bit change between consecutive
    * samples with v ≥ 0 counted as positive (deterministic at
    * exactly-zero samples). MONO-only by contract (audit tier, same
    * throw discipline as [[decodeImageStats]]): a linear sample walk
    * over interleaved stereo would alternate L/R and turn the
    * zero-crossing count into channel-interleave noise — a stereo
    * payload throws rather than emitting nonsense (its sibling
    * [[decodeAudioStats]] stays multi-channel-safe because its
    * Σ/Σ|·| aggregates are interleave-invariant). Same mapPartitions
    * batch shape as the other decoders; per-row cost O(n_samples).
    */
  def audioFeatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) =>
        val (fmt, data) = monoPcm16(d, bytes)
        val le = !fmt.isBigEndian
        var i = 0; var n = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
        var prevNonNeg = true; var first = true
        while (i + 1 < data.length) {
          val lo = data(if (le) i else i + 1) & 0xff
          val hi = data(if (le) i + 1 else i).toInt
          val v = (hi << 8) | lo
          n += 1; sumSq += v.toLong * v
          if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
          val nonNeg = v >= 0
          if (!first && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg; first = false
          i += 2
        }
        AudioFeatures(d, n,
          if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n), peak, zc)
      }.toDF()
  }

  /** REAL-codec audio DECIMATION resample (r16 — [[thumbnail]]'s
    * audio twin): whole-blob decode, keep every `factor`-th sample
    * (mono 16-bit contract), real WAV re-encode at
    * `sampleRate / factor`. Decimation without an anti-alias filter
    * is the deterministic-by-construction resampler — exact sample
    * selection, no float kernel — which is what lets the driver key
    * pipe decimated blobs back through [[decodeAudioStats]] and
    * hash-check the resampled SAMPLES against the recipe (WAV
    * lossless both ways). A production pipeline would low-pass
    * first; that filter is a float convolution with no cross-engine
    * bit contract, so it stays out of the oracled path by design.
    * Audit-tier: throws on non-mono/non-16-bit payloads and on
    * rates the factor cannot divide. */
  def audioDecimate(blobs: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) => attributed(d) {
        val (fmt, data) = monoPcm16(d, bytes)
        val rate = fmt.getSampleRate.toInt
        require(rate % factor == 0,
          s"doc $d: rate $rate not divisible by factor $factor")
        val le = !fmt.isBigEndian
        val n = data.length / 2
        val kept = (n + factor - 1) / factor
        val pcm = new Array[Byte](kept * 2)
        var i = 0; var o = 0
        while (i < n) {
          // keep little-endian output regardless of source endianness
          pcm(2 * o) = data(if (le) 2 * i else 2 * i + 1)
          pcm(2 * o + 1) = data(if (le) 2 * i + 1 else 2 * i)
          o += 1; i += factor
        }
        wavBlob(d, pcm, (rate / factor).toFloat, kept)
      } }.toDF()
  }

  /** REAL-decode audit over a WAV corpus, the audio twin of
    * [[decodeImageStats]]: parse the container with the JDK's
    * `javax.sound.sampled` reader (no external codec), reconstruct
    * the signed 16-bit samples with the format's own endianness, and
    * emit exact integer aggregates (Σ sample, Σ |sample|). PCM is
    * lossless, so over a [[synthWavCorpus]] input the encode→decode
    * round trip cancels and the output is bit-for-bit
    * oracle-checkable from the sample recipe alone — a decoder that
    * swapped endianness, dropped a frame, or mis-signed a sample
    * would hash-mismatch. Throws on undecodable/non-16-bit payloads:
    * audit tier, same contract as [[decodeImageStats]]; the
    * never-throw production router remains [[decodeFrame]] (which
    * stubs formats outside its codec set).
    */
  def decodeAudioStats(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    payloads(blobs)
      .map { case (d, bytes) =>
        val ais = wavStream(bytes)
        val fmt = ais.getFormat
        require(fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16,
          s"doc $d: expected signed 16-bit PCM, got $fmt")
        val data = ais.readAllBytes()
        val le = !fmt.isBigEndian
        var i = 0; var n = 0L; var sum = 0L; var sabs = 0L
        while (i + 1 < data.length) {
          val lo = data(if (le) i else i + 1) & 0xff
          val hi = data(if (le) i + 1 else i).toInt // sign-extends
          val v = (hi << 8) | lo
          n += 1; sum += v; sabs += math.abs(v)
          i += 2
        }
        DecodedAudio(d, fmt.getSampleRate.toInt, fmt.getChannels,
          n / fmt.getChannels, sum, sabs)
      }.toDF()
  }
}
