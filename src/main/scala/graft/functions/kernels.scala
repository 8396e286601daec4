package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** JVM kernels behind graft's native `gf` functions. Static
  * forwarders (standalone Scala objects) make these callable from
  * whole-stage-codegen'd Java, so the expressions stay inside the
  * codegen pipeline instead of falling back to interpreted eval.
  *
  * All hashing is FNV-1a-64 / splitmix64 — public, seedable, and
  * engine-deterministic (the LSH/minhash family is checked by
  * ScalaTest specs, not SQL oracles, so cross-engine hash parity is
  * not required; cross-partition determinism is).
  */
object VectorOps {

  /** Cosine similarity of two float vectors, accumulated in double.
    * Returns 0.0 when either norm is 0 (convention: nothing is
    * similar to the zero vector).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Random-hyperplane LSH signature: bit i is the sign of
    * `v · planes(i)`. Up to 64 planes → one long.
    */
  def hyperplaneSig(v: ArrayData, planes: Array[Array[Float]]): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(v.numElements(), plane.length)
      var s = 0.0; var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * plane(i); i += 1 }
      if (s > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Margin-ordered multiprobe LSH bucket list (Lv et al., VLDB'07):
    * entry 0 is the exact signature; entries 1..probes-1 each flip
    * ONE bit, in order of increasing |projection| of the flipped
    * plane (the smallest margin is the sign most likely to differ
    * for a true near neighbor). Ties break by plane index. Probing
    * the q most-plausible buckets of ONE table beats q independent
    * tables at the same candidate budget — near neighbors
    * concentrate in adjacent buckets, random tables don't.
    */
  def multiprobeSigs(v: ArrayData, planes: Array[Array[Float]],
                     probes: Int): ArrayData = {
    val nP = planes.length
    val proj = new Array[Double](nP)
    var bits = 0L
    var p = 0
    while (p < nP) {
      val plane = planes(p)
      val n = math.min(v.numElements(), plane.length)
      var s = 0.0; var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * plane(i); i += 1 }
      proj(p) = s
      if (s > 0) bits |= (1L << p)
      p += 1
    }
    val order = Array.range(0, nP).sortBy(i => (math.abs(proj(i)), i))
    val out = new Array[Any](math.min(math.max(probes, 1), nP + 1))
    out(0) = bits
    var j = 1
    while (j < out.length) { out(j) = bits ^ (1L << order(j - 1)); j += 1 }
    new GenericArrayData(out)
  }

  /** IVF probe list: indices of the `nprobe` centroids nearest (by
    * cosine) to `v`, most similar first, ties broken by index.
    */
  def nearestCentroids(v: ArrayData, centroids: Array[Array[Float]], nprobe: Int): ArrayData = {
    val sims = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(v.numElements(), cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = v.getFloat(i).toDouble; val y = cent(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      sims(c) = if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    val order = (0 until centroids.length).sortBy(i => (-sims(i), i)).take(nprobe)
    new GenericArrayData(order.map(_.asInstanceOf[Any]).toArray)
  }

  /** Product-quantization encode: for each subspace j (contiguous
    * slice of the vector), the index of the L2-nearest codebook
    * entry. `codebooks(j)` is the k×subDim codebook of subspace j.
    */
  def pqEncode(v: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val m = codebooks.length
    var dims = 0
    locally { var j = 0; while (j < m) { dims += codebooks(j)(0).length; j += 1 } }
    // fail fast on a mixed-dim corpus — zero-padding here would
    // silently produce wrong neighbors (codebooksFromSample only
    // checks the sampled vectors)
    require(v.numElements() == dims,
      s"pq_encode: vector has ${v.numElements()} dims, codebooks cover $dims")
    val out = new Array[Any](m)
    var j = 0; var off = 0
    while (j < m) {
      val cb = codebooks(j)
      val sub = cb(0).length
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = v.getFloat(off + i).toDouble - cent(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      off += sub; j += 1
    }
    new GenericArrayData(out)
  }

  /** PQ-encode the RESIDUAL `v − centroids(cell)` — the classic
    * IVF-PQ layout: residuals concentrate around 0 with far less
    * variance than raw vectors, so the same codebook budget encodes
    * them with less error (recall uplift at equal bytes).
    */
  def pqEncodeResidual(v: ArrayData, cell: Int,
                       centroids: Array[Array[Float]],
                       codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val m = codebooks.length
    var dims = 0
    locally { var j = 0; while (j < m) { dims += codebooks(j)(0).length; j += 1 } }
    require(v.numElements() == dims,
      s"pq_encode_residual: vector has ${v.numElements()} dims, codebooks cover $dims")
    val cent = centroids(cell)
    require(cent.length == dims,
      s"pq_encode_residual: centroid has ${cent.length} dims, codebooks cover $dims")
    val out = new Array[Any](m)
    var j = 0; var off = 0
    while (j < m) {
      val cb = codebooks(j)
      val sub = cb(0).length
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cb.length) {
        val entry = cb(c)
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = (v.getFloat(off + i) - cent(off + i)).toDouble - entry(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      off += sub; j += 1
    }
    new GenericArrayData(out)
  }

  /** Approximate cosine of a full query vector against an IVF-PQ
    * reconstruction `centroids(cell) + codebook residual` — reads
    * only the cell id and m code bytes.
    */
  def pqCosineResidual(q: ArrayData, codes: ArrayData, cell: Int,
                       centroids: Array[Array[Float]],
                       codebooks: Array[Array[Array[Float]]]): Double = {
    var dims = 0
    locally { var j = 0; while (j < codebooks.length) { dims += codebooks(j)(0).length; j += 1 } }
    require(q.numElements() == dims,
      s"pq_cosine_residual: query has ${q.numElements()} dims, codebooks cover $dims")
    val cent = centroids(cell)
    var dot = 0.0; var nq = 0.0; var nx = 0.0
    var j = 0; var off = 0
    while (j < codebooks.length) {
      val entry = codebooks(j)(codes.getInt(j))
      var i = 0
      while (i < entry.length) {
        val qv = q.getFloat(off + i).toDouble
        val xv = cent(off + i).toDouble + entry(i)
        dot += qv * xv; nq += qv * qv; nx += xv * xv
        i += 1
      }
      off += entry.length; j += 1
    }
    if (nq == 0.0 || nx == 0.0) -2.0 else dot / (math.sqrt(nq) * math.sqrt(nx))
  }

  /** Approximate cosine of a full query vector against a
    * PQ-reconstructed corpus vector, reading only the m code bytes —
    * the corpus's float payload never enters the scan.
    */
  def pqCosine(q: ArrayData, codes: ArrayData,
               codebooks: Array[Array[Array[Float]]]): Double = {
    var dims = 0
    locally { var j = 0; while (j < codebooks.length) { dims += codebooks(j)(0).length; j += 1 } }
    require(q.numElements() == dims,
      s"pq_cosine: query has ${q.numElements()} dims, codebooks cover $dims")
    var dot = 0.0; var nq = 0.0; var nx = 0.0
    var j = 0; var off = 0
    while (j < codebooks.length) {
      val cent = codebooks(j)(codes.getInt(j))
      var i = 0
      while (i < cent.length) {
        val qv = q.getFloat(off + i).toDouble
        val xv = cent(i).toDouble
        dot += qv * xv; nq += qv * qv; nx += xv * xv
        i += 1
      }
      off += cent.length; j += 1
    }
    if (nq == 0.0 || nx == 0.0) -2.0 else dot / (math.sqrt(nq) * math.sqrt(nx))
  }

  /** PCA projection: `y_j = components(j) · (v − mean)` — double
    * accumulation, float output (the projected vectors feed the same
    * float-array operators as raw embeddings). */
  def pcaProject(v: ArrayData, mean: Array[Float],
                 components: Array[Array[Float]]): ArrayData = {
    val out = new Array[Any](components.length)
    var j = 0
    while (j < components.length) {
      val comp = components(j)
      val n = math.min(v.numElements(), math.min(comp.length, mean.length))
      var s = 0.0; var i = 0
      while (i < n) {
        s += comp(i).toDouble * (v.getFloat(i).toDouble - mean(i).toDouble)
        i += 1
      }
      out(j) = s.toFloat
      j += 1
    }
    new GenericArrayData(out)
  }
}

object TextChars {

  /** Fused duplicated-n-gram CHARACTER-coverage counters for the
    * Gopher repetition profile: given a token array, returns
    * `[tok_chars, cov_minN, …, cov_maxN]` where `cov_n` is the
    * summed char length (code points, matching SQL `length`) of
    * token positions lying inside ANY occurrence of a within-doc
    * duplicated n-gram — position-coverage union, overlaps never
    * double-count. Identity is EXACT string equality of the
    * space-joined gram (tokens are whitespace-split, so the join is
    * injective — no hash-collision class), counted in one HashMap
    * pass per n; duplicated starts ascend by construction, so one
    * interval-merge walk charges each covered token exactly once.
    * Value-identical to the interpreted HOF spelling (sort →
    * duplicate runs → merge fold) and to the oracle's quadratic
    * definition, at one JVM pass instead of per-element interpreted
    * lambda evaluation.
    */
  def dupNgramCoverage(arr: ArrayData, minN: Int, maxN: Int): ArrayData = {
    val t = arr.numElements()
    val toks = new Array[String](t)
    val lens = new Array[Long](t)
    var i = 0
    var total = 0L
    while (i < t) {
      val u = arr.getUTF8String(i)
      toks(i) = u.toString
      lens(i) = u.numChars().toLong
      total += lens(i)
      i += 1
    }
    val out = new Array[Long](maxN - minN + 2)
    out(0) = total
    var n = minN
    while (n <= maxN) {
      val g = t - n + 1
      var cov = 0L
      if (g >= 2) {
        val counts = new java.util.HashMap[String, Integer](g * 2)
        val grams = new Array[String](g)
        var s = 0
        while (s < g) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(s + j))
            j += 1
          }
          val gram = sb.toString
          grams(s) = gram
          val c = counts.get(gram)
          counts.put(gram, if (c == null) 1 else c + 1)
          s += 1
        }
        var last = -1
        s = 0
        while (s < g) {
          if (counts.get(grams(s)) > 1) {
            val hi = s + n - 1
            if (hi > last) {
              var p = math.max(s, last + 1)
              while (p <= hi) { cov += lens(p); p += 1 }
              last = hi
            }
          }
          s += 1
        }
      }
      out(n - minN + 1) = cov
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Fused top-n-gram argmax for the Gopher repetition profile:
    * per k ∈ [minK, maxK], the max within-doc n-gram count and the
    * CODE-POINT length of the winning gram, as
    * `[maxc_minK, toplen_minK, …, maxc_maxK, toplen_maxK]`.
    * Ties break to the gram smallest in UTF-8 BYTE order — the
    * ordering both `array_min` (UTF8String) and DuckDB's binary
    * collation use; JVM `String.compareTo` is UTF-16 code-unit
    * order and would diverge on astral chars, so tie comparisons go
    * through [[UTF8String]]. Empty gram sets read [0, 0].
    */
  def topNgramStats(arr: ArrayData, minK: Int, maxK: Int): ArrayData = {
    val t = arr.numElements()
    val toks = new Array[String](t)
    var i = 0
    while (i < t) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    val out = new Array[Long](2 * (maxK - minK + 1))
    var k = minK
    while (k <= maxK) {
      val g = t - k + 1
      if (g >= 1) {
        val counts = new java.util.HashMap[String, Integer](g * 2)
        var s = 0
        while (s < g) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(s + j))
            j += 1
          }
          val gram = sb.toString
          val c = counts.get(gram)
          counts.put(gram, if (c == null) 1 else c + 1)
          s += 1
        }
        var bestC = 0
        var bestG: String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue()
          if (c > bestC || (c == bestC &&
              UTF8String.fromString(e.getKey)
                .compareTo(UTF8String.fromString(bestG)) < 0)) {
            bestC = c
            bestG = e.getKey
          }
        }
        out(2 * (k - minK)) = bestC.toLong
        out(2 * (k - minK) + 1) = bestG.codePointCount(0, bestG.length).toLong
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `lower` at the default UTF8_BINARY collation with ICU
    * case mappings, step for step: an all-ASCII string maps byte by
    * byte, anything else through ICU's full (locale-free) mapping of
    * the valid string, invalid bytes first replaced by U+FFFD. Spark's
    * own path loads `CollationAwareUTF8String`, whose static
    * initializer title-cases all 1,114,112 code points (about 1.7 s,
    * once per JVM); this one touches only ICU's `UCharacter`. */
  def lowerIcu(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  /** Spark's `upper`, the same way as [[lowerIcu]]. */
  def upperIcu(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toUpperCase(s.toValidString))

  /** Deflate compression ratio (compressed ÷ raw bytes, zlib level
    * 6, raw stream): the classic low-entropy text signal —
    * templated/repetitive text compresses far below natural prose.
    * Deterministic for a fixed JDK zlib; no cross-engine oracle
    * (DuckDB has no deflate), so consumers are rows-only + spec. */
  def deflateRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total.toDouble / bytes.length
  }

  /** All consecutive 3-char windows of a string (char-indexed, so
    * multibyte-safe and identical to SQL substr semantics). One byte
    * pass recording char-start offsets, then O(1) slices — both
    * `UTF8String.substring(i, j)` per window (O(len) seek each) and
    * the `transform(sequence(...))` HOF spelling (interpreted per
    * element) are quadratic by comparison.
    */
  def charTrigrams(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](n + 1)
    var count = 0
    var i = 0
    while (i < n) {
      starts(count) = i
      count += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(count) = n
    if (count < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count - 2)
    var c = 0
    while (c < count - 2) {
      out(c) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, starts(c), starts(c + 3)))
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** md5-based text kernels with exact SQL parity: these produce the
  * SAME values as the `md5(array_join(slice(tokens, i+1, n), ' '))`
  * SQL spelling (tokens = `array_remove(split(text, "\\s+"), "")`),
  * so operators built on them keep their DuckDB oracles — but in one
  * fused byte pass per document instead of an interpreted
  * higher-order `transform` that allocates a joined string per gram.
  */
object TextMd5 {

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val hex = "0123456789abcdef".getBytes

  // Java regex \s = ASCII [ \t\n\x0B\f\r]; multibyte UTF-8 chars are
  // never whitespace, so byte-level scanning is exact
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  /** Flattened [start0, end0, start1, end1, …] byte spans of the
    * whitespace-delimited tokens. */
  private def tokenSpans(bytes: Array[Byte]): Array[Int] = {
    val spans = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < bytes.length) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < bytes.length && !isWs(bytes(i))) i += 1
        spans.add(start); spans.add(i)
      } else i += 1
    }
    val out = new Array[Int](spans.size)
    var j = 0
    while (j < out.length) { out(j) = spans.get(j); j += 1 }
    out
  }

  /** md5 hex (lowercase, 32 chars — identical to SQL `md5`) of
    * tokens[from..from+n) joined with a single space, fed to the
    * digest straight from the document bytes (no joined string). */
  private def gramMd5(bytes: Array[Byte], spans: Array[Int],
                      from: Int, n: Int): UTF8String = {
    val md = digest.get()
    md.reset()
    var j = 0
    while (j < n) {
      val s = spans(2 * (from + j)); val e = spans(2 * (from + j) + 1)
      if (j > 0) md.update(' '.toByte)
      md.update(bytes, s, e - s)
      j += 1
    }
    val d = md.digest()
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** md5s of the non-overlapping n-token chunks (stride n), in
    * order; empty when the document has fewer than n tokens. */
  def chunkMd5s(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val spans = tokenSpans(bytes)
    val nTok = spans.length / 2
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any]((nTok - n) / n + 1)
    var i = 0; var c = 0
    while (i <= nTok - n) { out(c) = gramMd5(bytes, spans, i, n); c += 1; i += n }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints: md5s of all n-token grams, sliding
    * window of `window` consecutive gram hashes, each window's
    * lexicographic minimum, distinct. Short docs (fewer grams than
    * one window) keep all their gram hashes — a doc must never
    * fingerprint to nothing just because it is small.
    */
  def winnowMd5Fingerprints(s: UTF8String, n: Int, window: Int): ArrayData = {
    val bytes = s.getBytes
    val spans = tokenSpans(bytes)
    val nTok = spans.length / 2
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val g = nTok - n + 1
    val grams = new Array[UTF8String](g)
    var i = 0
    while (i < g) { grams(i) = gramMd5(bytes, spans, i, n); i += 1 }
    // LinkedHashSet = array_distinct semantics (first-occurrence order)
    val sel = new java.util.LinkedHashSet[UTF8String]()
    if (g >= window) {
      var j = 0
      while (j <= g - window) {
        var m = grams(j)
        var k = 1
        while (k < window) {
          if (grams(j + k).compareTo(m) < 0) m = grams(j + k)
          k += 1
        }
        sel.add(m)
        j += 1
      }
    } else {
      var k = 0
      while (k < g) { sel.add(grams(k)); k += 1 }
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    new GenericArrayData(out)
  }

  /** The n-token gram STRING (tokens joined by one space) built
    * straight from the document bytes — no intermediate token
    * strings. */
  private def gramString(bytes: Array[Byte], spans: Array[Int],
                         from: Int, n: Int): UTF8String = {
    var len = n - 1
    var j = 0
    while (j < n) {
      len += spans(2 * (from + j) + 1) - spans(2 * (from + j)); j += 1
    }
    val out = new Array[Byte](len)
    var pos = 0; j = 0
    while (j < n) {
      if (j > 0) { out(pos) = ' '; pos += 1 }
      val s = spans(2 * (from + j)); val e = spans(2 * (from + j) + 1)
      System.arraycopy(bytes, s, out, pos, e - s)
      pos += e - s; j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** DISTINCT space-joined token n-grams in first-occurrence order —
    * value-identical to the `array_distinct(transform(sequence(...),
    * i -> array_join(slice(toks, i+1, n), ' ')))` SQL spelling
    * (parity spec-held), fused into one byte-level pass: one span
    * scan, one output string per distinct gram, no per-token string
    * allocation and no interpreted higher-order lambda. */
  def tokenNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val spans = tokenSpans(bytes)
    val nTok = spans.length / 2
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= nTok - n) { seen.add(gramString(bytes, spans, i, n)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    new GenericArrayData(out)
  }

  /** Deterministic token dropout: token at position i (0-based)
    * drops iff the first 8 md5 hex chars of "docId:i:salt" sort
    * below `thresholdHex` — the same portable hash-randomness
    * convention as the sampling family, per (doc, position) so the
    * SAME doc augments identically on every run/engine and a new
    * salt is the next epoch's re-draw. One fused pass over the
    * document bytes; survivors re-join with single spaces
    * (whitespace is canonicalized by construction — document it).
    */
  def tokenDropout(s: UTF8String, docId: Long, thresholdHex: UTF8String,
                   salt: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val spans = tokenSpans(bytes)
    val nTok = spans.length / 2
    val thr = thresholdHex.getBytes
    val saltBytes = salt.getBytes
    val md = digest.get()
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    val keyHex = new Array[Byte](8)
    var i = 0
    var first = true
    while (i < nTok) {
      md.reset()
      md.update(java.lang.Long.toString(docId).getBytes)
      md.update(':'.toByte)
      md.update(java.lang.Integer.toString(i).getBytes)
      md.update(':'.toByte)
      md.update(saltBytes)
      val d = md.digest()
      var j = 0
      while (j < 4) {
        keyHex(2 * j) = hex((d(j) >> 4) & 0xf)
        keyHex(2 * j + 1) = hex(d(j) & 0xf)
        j += 1
      }
      // lexicographic compare of 8 ASCII hex bytes vs the threshold
      // (a "g" threshold sorts above every hex key → drop everything)
      var cmp = 0
      var k = 0
      val lim = math.min(8, thr.length)
      while (cmp == 0 && k < lim) {
        cmp = java.lang.Byte.compare(keyHex(k), thr(k)); k += 1
      }
      if (cmp == 0 && thr.length > 8) cmp = -1
      if (cmp >= 0) { // key >= threshold → keep
        if (!first) out.write(' ')
        out.write(bytes, spans(2 * i), spans(2 * i + 1) - spans(2 * i))
        first = false
      }
      i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }
}

object TextHashes {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime  = 0x100000001b3L

  /** FNV-1a-64 over UTF-8 bytes. */
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  /** Count-Min multiply-shift bucket (Dietzfelbinger): the top
    * `64 − shift` bits of the wraparound `a·h + b` mix every input
    * bit, so the depth rows are pairwise-independent-ish. */
  def cmsBucket(h: Long, a: Long, b: Long, shift: Int): Long = (a * h + b) >>> shift

  /** Bloom membership of a long key. */
  def mightContainLong(h: Long, bf: BloomFilter): Boolean = bf.mightContainLong(h)

  private def mix(h0: Long, s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = h0
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    // token separator (a byte that can't appear inside UTF-8 text)
    h ^= 0xffL; h *= FnvPrime
    h
  }

  /** Hashes of all `k`-token shingles of a token array: element i is
    * the FNV-1a hash of tokens[i..i+k) with separators. Empty result
    * when the document has fewer than k tokens.
    */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = FnvOffset
      var j = 0
      while (j < k) { h = mix(h, tokens.getUTF8String(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over a token array: bit i of the result is set
    * when the majority of token hashes have bit i set.
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val h = hash64(tokens.getUTF8String(t))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) bits |= (1L << i); i += 1 }
    bits
  }

  /** Hashes of all character n-grams of a string, via a rolling
    * polynomial hash over the UTF-8 bytes — O(len) total, no
    * per-character array materialization (`split(text, "")` allocates
    * one UTF8String per char; this allocates nothing but the output).
    */
  def charShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    if (bytes.length < n) return new GenericArrayData(Array.empty[Any])
    val B = FnvPrime
    // B^n (wrapping)
    var bn = 1L
    var i = 0
    while (i < n) { bn *= B; i += 1 }
    val out = new Array[Any](bytes.length - n + 1)
    var h = 0L
    i = 0
    while (i < n) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    out(0) = h
    i = n
    while (i < bytes.length) {
      h = h * B + (bytes(i) & 0xffL) - (bytes(i - n) & 0xffL) * bn
      out(i - n + 1) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fused canonicalize→tokenize→k-shingle in ONE pass over the
    * UTF-8 bytes: ASCII-lowercases on the fly, treats whitespace runs
    * as token boundaries, maintains a ring of the last k token hashes
    * and emits the combined shingle hash at each token end. No
    * regexp, no intermediate token array — the fast path for
    * dedup pipelines (the general ops keep the regexp-based
    * tokenizer for engine-parity with SQL oracles).
    */
  def tokenShingleHashesFused(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val ring = new Array[Long](k)
    val out = new java.util.ArrayList[Any]()
    var nTokens = 0
    var h = FnvOffset
    var inToken = false

    def endToken(): Unit = if (inToken) {
      ring(nTokens % k) = h
      nTokens += 1
      if (nTokens >= k) {
        // combine the last k token hashes, oldest first
        var sh = FnvOffset
        var j = 0
        while (j < k) {
          val th = ring((nTokens - k + j) % k)
          sh ^= (th & 0xffL); sh *= FnvPrime
          sh ^= ((th >>> 32) & 0xffffffffL); sh *= FnvPrime
          j += 1
        }
        out.add(sh)
      }
      h = FnvOffset
      inToken = false
    }

    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val isWs = b == ' ' || b == '\t' || b == '\n' || b == '\r' ||
        b == '\f' || b == 0x0b
      if (isWs) endToken()
      else {
        val lower = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        h ^= (lower & 0xffL); h *= FnvPrime
        inToken = true
      }
      i += 1
    }
    endToken()
    new GenericArrayData(out.toArray)
  }

  // public (r10): the minhash oracle embeds the permutation
  // constants a_p = splitmix64(seed+2p)|1, b_p = splitmix64(seed+2p+1)
  // as SQL literals — one definition of the mix, two consumers
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** MinHash signature: for each of `numPerms` seeded universal-hash
    * permutations `h_p(x) = a_p*x + b_p`, the unsigned-min over the
    * input hashes. Empty input → MaxValue sentinel per perm (no
    * shingles can never collide with a real signature band).
    */
  def minhashSignature(hashes: ArrayData, numPerms: Int, seed: Long): ArrayData = {
    val out = new Array[Any](numPerms)
    val n = hashes.numElements()
    var p = 0
    while (p < numPerms) {
      val a = splitmix64(seed + 2L * p) | 1L
      val b = splitmix64(seed + 2L * p + 1L)
      var min = -1L // unsigned max
      var i = 0
      while (i < n) {
        val h = a * hashes.getLong(i) + b
        if (java.lang.Long.compareUnsigned(h, min) < 0) min = h
        i += 1
      }
      out(p) = min
      p += 1
    }
    new GenericArrayData(out)
  }
}
