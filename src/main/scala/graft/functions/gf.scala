package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{ColumnShim, KernelCall}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, ObjectType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Column-API facade over graft's native kernels — use like
  * `org.apache.spark.sql.functions`:
  *
  * {{{
  *   import graft.functions.gf
  *   embeddings.select(gf.cosineSim(col("embedding"), typedLit(q)))
  * }}}
  *
  * Each function is one [[KernelCall]]: its SQL name, the kernel
  * object and method, the result type, the input types of its column
  * arguments, the columns and the constant arguments.
  */
object gf {
  private val Vec = ArrayType(FloatType)
  private val Toks = ArrayType(StringType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val Strs = ArrayType(StringType, containsNull = false)

  private def call(name: String, kernel: AnyRef, method: String, result: DataType,
                   types: Seq[DataType], cols: Seq[Column], consts: Any*): Column =
    ColumnShim.column(KernelCall(name, kernel, method, result, types,
      cols.map(ColumnShim.expression), consts.map(literal)))

  // A sketch is typed at its public class: its runtime class is
  // package-private, and generated code that names it fails with
  // IllegalAccessError.
  private def literal(v: Any): Expression = v match {
    case bf: BloomFilter => Literal(bf, ObjectType(classOf[BloomFilter]))
    case a: Array[_]     => Literal(a, ObjectType(a.getClass))
    case other           => Literal(other)
  }

  private def requirePlanes(planes: Array[Array[Float]]): Unit =
    require(planes.nonEmpty && planes.length <= 64, "need 1..64 hyperplanes")

  /** Cosine similarity of two `array<float>` columns (double). */
  def cosineSim(a: Column, b: Column): Column =
    call("cosine_sim", VectorOps, "cosine", DoubleType, Seq(Vec, Vec), Seq(a, b))

  /** Codegen'd Bloom membership probe of a long column against a
    * pre-built sketch (no per-row UDF ser/de): the sketch ships once
    * per task binary, and the probe fuses with the scan. */
  def bloomMightContain(key: Column, bf: BloomFilter): Column =
    call("bloom_might_contain_long", TextHashes, "mightContainLong", BooleanType,
      Seq(LongType), Seq(key), bf)

  /** 64-bit FNV-1a fingerprint of a string column. */
  def hash64(s: Column): Column =
    call("graft_hash64", TextHashes, "hash64", LongType, Seq(StringType), Seq(s))

  /** Count-Min multiply-shift bucket of a long column: top
    * `64 − shift` bits of `a·h + b mod 2⁶⁴` (wraparound, which ANSI
    * Column arithmetic rejects). */
  def cmsBucket(h: Column, a: Long, b: Long, shift: Int): Column = {
    require(shift > 0 && shift < 64, s"shift must be in (0,64), got $shift")
    call("cms_bucket", TextHashes, "cmsBucket", LongType, Seq(LongType), Seq(h),
      a, b, shift)
  }

  /** Hashes of all k-token shingles of an `array<string>` column. */
  def shingleHashes(tokens: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    call("shingle_hashes", TextHashes, "shingleHashes", Longs, Seq(Toks), Seq(tokens), k)
  }

  /** Hashes of all character n-grams of a string column (rolling
    * hash, O(len)). */
  def charShingleHashes(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    call("char_shingle_hashes", TextHashes, "charShingleHashes", Longs,
      Seq(StringType), Seq(text), n)
  }

  /** Spark's `lower` (UTF8_BINARY, ICU case mappings), value for
    * value, without loading Spark's collation-aware string class. */
  def lowerText(s: Column): Column =
    call("lower_icu", TextChars, "lowerIcu", StringType, Seq(StringType), Seq(s))

  /** Spark's `upper`, the same way as [[lowerText]]. */
  def upperText(s: Column): Column =
    call("upper_icu", TextChars, "upperIcu", StringType, Seq(StringType), Seq(s))

  /** All consecutive 3-char windows of a string (codegen'd). */
  def charTrigrams(text: Column): Column =
    call("char_trigrams", TextChars, "charTrigrams", Strs, Seq(StringType), Seq(text))

  /** `[tok_chars, cov_minN..cov_maxN]` — fused duplicated-n-gram
    * char coverage (Gopher dup-gram mass), one codegen'd pass. */
  def dupNgramCoverage(toks: Column, minN: Int, maxN: Int): Column = {
    require(1 <= minN && minN <= maxN, s"need 1 <= minN <= maxN, got ($minN, $maxN)")
    call("dup_ngram_coverage", TextChars, "dupNgramCoverage", Longs, Seq(Toks),
      Seq(toks), minN, maxN)
  }

  /** `[maxc_minK, toplen_minK, …]` — fused top-n-gram argmax
    * (count + code-point length of the byte-order-smallest winner). */
  def topNgramStats(toks: Column, minK: Int, maxK: Int): Column = {
    require(1 <= minK && minK <= maxK, s"need 1 <= minK <= maxK, got ($minK, $maxK)")
    call("top_ngram_stats", TextChars, "topNgramStats", Longs, Seq(Toks),
      Seq(toks), minK, maxK)
  }

  /** Fused canonicalize+tokenize+k-shingle of raw text — one byte
    * pass, no regexp (dedup fast path). */
  def tokenShingleHashes(text: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    call("token_shingle_hashes", TextHashes, "tokenShingleHashesFused", Longs,
      Seq(StringType), Seq(text), k)
  }

  /** md5s of the non-overlapping n-token chunks of a text column
    * (fused, SQL-md5-parity — oracle-checkable). */
  def chunkMd5s(text: Column, n: Int): Column = {
    require(n >= 1, s"chunk size must be >= 1, got $n")
    call("chunk_md5s", TextMd5, "chunkMd5s", Strs, Seq(StringType), Seq(text), n)
  }

  /** Winnowing fingerprints (distinct windowed-min gram md5s) of a
    * text column (fused, SQL-md5-parity — oracle-checkable). */
  def winnowFingerprints(text: Column, n: Int, window: Int): Column = {
    require(n >= 1 && window >= 1, s"need n,window >= 1, got $n,$window")
    call("winnow_md5_fingerprints", TextMd5, "winnowMd5Fingerprints", Strs,
      Seq(StringType), Seq(text), n, window)
  }

  /** Distinct space-joined token n-grams of a text column (fused,
    * SQL-spelling parity — oracle-checkable). */
  def tokenNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    call("token_ngrams", TextMd5, "tokenNgrams", Strs, Seq(StringType), Seq(text), n)
  }

  /** Deterministic token dropout at `rate` keyed on (doc, position,
    * salt) — fused tokenize+hash+filter+rejoin, value-identical to
    * the indexed-lambda SQL spelling (oracle-checkable). Output
    * whitespace is canonicalized to single spaces by construction.
    */
  def tokenDropout(text: Column, docId: Column, rate: Double,
                   salt: String): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val thr =
      if (rate >= 1.0) "g"
      else f"${math.floor(rate * 4294967296.0).toLong}%08x"
    tokenDropoutAt(text, docId, thr, salt)
  }

  /** [[tokenDropout]] at a threshold given as 8 hex chars (`"g"`
    * drops every token). */
  private[graft] def tokenDropoutAt(text: Column, docId: Column,
                                    thresholdHex: String, salt: String): Column =
    call("token_dropout", TextMd5, "tokenDropout", StringType,
      Seq(StringType, LongType), Seq(text, docId), thresholdHex, salt)

  /** 64-bit SimHash of an `array<string>` token column. */
  def simhash64(tokens: Column): Column =
    call("simhash64", TextHashes, "simhash64", LongType, Seq(Toks), Seq(tokens))

  /** MinHash signature (`numPerms` longs) of a shingle-hash column. */
  def minhashSignature(hashes: Column, numPerms: Int, seed: Long): Column = {
    require(numPerms >= 1, s"numPerms must be >= 1, got $numPerms")
    call("minhash_signature", TextHashes, "minhashSignature", Longs,
      Seq(ArrayType(LongType)), Seq(hashes), numPerms, seed)
  }

  /** Random-hyperplane LSH signature (long) of an `array<float>` column. */
  def hyperplaneSig(vec: Column, planes: Array[Array[Float]]): Column = {
    requirePlanes(planes)
    call("hyperplane_sig", VectorOps, "hyperplaneSig", LongType, Seq(Vec), Seq(vec), planes)
  }

  /** Margin-ordered multiprobe LSH bucket list (`array<long>`) of an
    * `array<float>` column: exact signature + probes−1 single-bit
    * flips by ascending plane margin. */
  def multiprobeSigs(vec: Column, planes: Array[Array[Float]],
                     probes: Int): Column = {
    requirePlanes(planes)
    require(probes >= 1, "need at least the exact bucket")
    call("multiprobe_sigs", VectorOps, "multiprobeSigs", Longs, Seq(Vec), Seq(vec),
      planes, probes)
  }

  /** PQ codes of a vector under per-subspace codebooks. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebook")
    call("pq_encode", VectorOps, "pqEncode", Ints, Seq(Vec), Seq(vec), codebooks)
  }

  /** Approximate cosine between a query vector and PQ codes. */
  def pqCosine(q: Column, codes: Column, codebooks: Array[Array[Array[Float]]]): Column =
    call("pq_cosine", VectorOps, "pqCosine", DoubleType,
      Seq(Vec, ArrayType(IntegerType)), Seq(q, codes), codebooks)

  /** IVF-PQ residual codes: PQ-encode `vec − centroids(cell)`. */
  def pqEncodeResidual(vec: Column, cell: Column,
                       centroids: Array[Array[Float]],
                       codebooks: Array[Array[Array[Float]]]): Column =
    call("pq_encode_residual", VectorOps, "pqEncodeResidual", Ints,
      Seq(Vec, IntegerType), Seq(vec, cell), centroids, codebooks)

  /** Approximate cosine against `centroids(cell) + residual(codes)`. */
  def pqCosineResidual(q: Column, codes: Column, cell: Column,
                       centroids: Array[Array[Float]],
                       codebooks: Array[Array[Array[Float]]]): Column =
    call("pq_cosine_residual", VectorOps, "pqCosineResidual", DoubleType,
      Seq(Vec, ArrayType(IntegerType), IntegerType), Seq(q, codes, cell),
      centroids, codebooks)

  /** Probe list of the `nprobe` nearest centroids for an
    * `array<float>` column. */
  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nprobe >= 1 && nprobe <= centroids.length, s"bad nprobe $nprobe")
    call("nearest_centroids", VectorOps, "nearestCentroids", Ints, Seq(Vec), Seq(vec),
      centroids, nprobe)
  }

  /** Deflate compression ratio (compressed ÷ raw bytes) of a string
    * column — the low-entropy/template-text signal. */
  def deflateRatio(s: Column): Column =
    call("deflate_ratio", TextChars, "deflateRatio", DoubleType, Seq(StringType), Seq(s))

  /** PCA projection (mean-center then multiply by the component
    * matrix) of an `array<float>` column. */
  def pcaProject(vec: Column, mean: Array[Float],
                 components: Array[Array[Float]]): Column = {
    require(components.nonEmpty, "need at least one component")
    call("pca_project", VectorOps, "pcaProject", ArrayType(FloatType, containsNull = false),
      Seq(Vec), Seq(vec), mean, components)
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes) {
      val v = Array.fill(dim)((rnd.nextGaussian()).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      if (n == 0f) v else v.map(_ / n)
    }
  }
}
