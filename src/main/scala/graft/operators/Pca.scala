package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Distributed PCA over an embedding column — the dimensionality-
  * reduction stage a 100 TB vector pipeline runs BEFORE indexing
  * (project 64 → 16 dims, then every downstream scan moves 4× fewer
  * bytes; FAISS calls this the OPQ/PCA pre-transform).
  *
  * Spark-first split of the work:
  *  - [[fit]] is ONE partial-aggregate pass: a typed [[Aggregator]]
  *    accumulates (n, Σx, upper-triangular ΣxxT) per partition and
  *    merges associatively — dim·(dim+3)/2 doubles of state, no
  *    shuffle of vectors, nothing driver-side but the final buffer.
  *  - The eigen-decomposition runs on the DRIVER: a dim×dim
  *    symmetric matrix (64² here) is microseconds of Jacobi — the
  *    same "model state is driver-sized" economics as the IVF
  *    centroid and PQ codebook trainers.
  *  - [[project]] is a pure codegen'd map ([[gf.pcaProject]], model
  *    attached as codegen reference objects) — no shuffle, no UDF.
  *
  * Float caveat: partial-merge order shifts the Gram sums by ~1 ulp,
  * so refits on different partitionings agree to ~1e-9, not
  * bit-exact — the PcaSpec invariants (orthonormality, descending
  * explained variance, projection parity with a plain-Scala
  * reference) are asserted with tolerances, and the driver keys are
  * declared rows-only.
  */
object Pca {

  /** Driver-sized PCA model state. `components` rows are unit-norm
    * eigenvectors of the covariance, descending eigenvalue order. */
  case class Model(mean: Array[Float], components: Array[Array[Float]],
                   explainedVariance: Array[Double], totalVariance: Double)

  case class GramBuf(n: Long, s: Array[Double], g: Array[Double])

  /** (n, Σx, packed upper-triangular ΣxxT) in one associative pass. */
  private class GramAgg(dim: Int) extends Aggregator[Seq[Float], GramBuf, GramBuf] {
    def zero: GramBuf =
      GramBuf(0L, new Array[Double](dim), new Array[Double](dim * (dim + 1) / 2))
    def reduce(b: GramBuf, v: Seq[Float]): GramBuf = {
      var i = 0; var t = 0
      while (i < dim) {
        val xi = if (i < v.length) v(i).toDouble else 0.0
        b.s(i) += xi
        var j = i
        while (j < dim) {
          val xj = if (j < v.length) v(j).toDouble else 0.0
          b.g(t) += xi * xj
          t += 1; j += 1
        }
        i += 1
      }
      GramBuf(b.n + 1, b.s, b.g)
    }
    def merge(a: GramBuf, c: GramBuf): GramBuf = {
      var i = 0
      while (i < a.s.length) { a.s(i) += c.s(i); i += 1 }
      var t = 0
      while (t < a.g.length) { a.g(t) += c.g(t); t += 1 }
      GramBuf(a.n + c.n, a.s, a.g)
    }
    def finish(r: GramBuf): GramBuf = r
    def bufferEncoder: Encoder[GramBuf] = Encoders.product[GramBuf]
    def outputEncoder: Encoder[GramBuf] = Encoders.product[GramBuf]
  }

  def fit(embeddings: DataFrame, dim: Int = 64, k: Int = 16): Model = {
    require(k >= 1 && k <= dim, s"need 1..$dim components, got $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val buf = embeddings.select(col("embedding"))
      .as[Seq[Float]]
      .select(new GramAgg(dim).toColumn)
      .head()
    require(buf.n > 0, "PCA fit on an empty corpus")
    val n = buf.n.toDouble
    val mean = buf.s.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var t = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf.g(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    val (vals, vecs) = symEigen(cov)
    Model(mean.map(_.toFloat), vecs.take(k).map(_.map(_.toFloat)),
      vals.take(k), vals.map(math.max(_, 0.0)).sum)
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix —
    * O(dim³) per sweep on the driver, converges in a handful of
    * sweeps for covariance-sized inputs. Returns (eigenvalues,
    * eigenvector ROWS), descending eigenvalue order. */
  private[graft] def symEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) { s += a(p)(q) * a(p)(q); q += 1 }
        p += 1
      }
      s
    }
    var sweep = 0
    while (offDiag() > 1e-18 && sweep < 64) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val tan =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tan * tan + 1.0)
            val s = tan * c
            var k = 0
            while (k < n) { // A ← A·G (columns p, q)
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) { // A ← Gᵀ·A (rows p, q)
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) { // V ← V·G
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => Array.tabulate(n)(r => v(r)(i))).toArray)
  }

  /** Project the embedding column through the model — pure codegen'd
    * map, every other column passes through untouched. */
  def project(df: DataFrame, model: Model): DataFrame =
    df.withColumn("embedding",
      gf.pcaProject(col("embedding"), model.mean, model.components))

  /** Two-stage ANN with a PCA-compressed first pass: candidates are
    * scored with cosine in the `pcaDims`-dim projected space (the
    * scan moves pcaDims/dim of the bytes — the same bandwidth lever
    * as SQ/PQ, but spectrum-adaptive), the top k·rerank re-score
    * exactly on raw vectors. Candidate generation is the broadcast-
    * queries × corpus stream of [[Similarity.bruteForceTopK]]; the
    * rerank join touches only candidate ids.
    *
    * `model`: pass the PUBLISHED transform ([[PcaFrozen.model]], the
    * r16 frozen-artifact convention — a 100 TB pipeline ships one
    * trained transform, it does not refit per query) and the whole
    * two-stage search replays in SQL from the model literals; None
    * refits on the corpus ([[fit]]) for ad-hoc use. Stage-1 ranks on
    * the 1e-6-ROUNDED projected cosine ([[Similarity.matryoshkaTopK]]
    * discipline): the candidate set is discrete, so boundary ranks
    * must snap to the id tie-break identically cross-engine; the
    * exact rerank re-scores on raw doubles.
    */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              pcaDims: Int = 16, rerank: Int = 4, dim: Int = 64,
              model: Option[Model] = None): DataFrame = {
    val m = model.getOrElse(fit(corpus, dim, pcaDims))
    require(m.components.length == pcaDims,
      s"model has ${m.components.length} components, expected $pcaDims")
    val pCorpus = project(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding")), m)
      .withColumnRenamed("embedding", "p_emb")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val pq = broadcast(project(
      queries.select(col("vec_id").as("query_id"), col("embedding")), m)
      .withColumnRenamed("embedding", "pq_emb"))
    val approx = Similarity.roundedTopK(pCorpus.crossJoin(pq)
      .transform(Similarity.scoredPairs(gf.cosineSim(col("pq_emb"), col("p_emb")))),
      k * rerank)
    Similarity.exactRerank(broadcast(approx.select("query_id", "neighbor_id")),
      Similarity.neighborEmb(corpus), broadcast(q), k)
  }
}
