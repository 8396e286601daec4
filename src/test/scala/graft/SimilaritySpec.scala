package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN specs: brute force against a plain-Scala reference, LSH/IVF
  * recall against brute force on the driver testdata.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val queries: DataFrame = emb.filter($"vec_id" % 100 === 0)

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private lazy val exact: Map[Long, Set[Long]] =
    topkSets(Similarity.bruteForceTopK(emb, queries, k = 10))

  test("bruteForceTopK matches a driver-side reference computation") {
    val all = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val q0 = all.find(_._1 == 0L).get
    val expected = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q0._2, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(10).map(_._1).toSet
    assert(exact(0L) == expected)
  }

  test("every query gets exactly k neighbors, self excluded") {
    val rows = Similarity.bruteForceTopK(emb, queries, k = 10).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 10))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("SQ int8 quantization: near-exact recall, bounded reconstruction") {
    val sq = topkSets(Similarity.sqTopK(emb, queries, k = 10))
    val recalls = exact.keys.toSeq.map { q =>
      (sq.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    // 8 bits per dimension on its own range: rank damage should be
    // marginal — far above the coarse LSH/IVF floors
    assert(mean >= 0.9, s"mean SQ recall $mean too low")

    // reconstruction error of every dequantized element is at most
    // half a grid step (+1 float ulp for the narrowing)
    val all = emb.select($"embedding").as[Seq[Float]].collect()
    val dim = all.head.length
    val mins = Array.tabulate(dim)(d => all.map(_(d).toDouble).min)
    val maxs = Array.tabulate(dim)(d => all.map(_(d).toDouble).max)
    val byId = Similarity.sqTopK(emb, queries, k = 10)
    // grid scalars recomputed here must bound the op's own output:
    // recompute the dequantization and compare against raw
    val dq = emb.select($"vec_id",
      $"embedding").as[(Long, Seq[Float])].collect().toMap
    for ((vid, v) <- dq.take(50); d <- 0 until dim
         if maxs(d) > mins(d)) {
      val sc = (maxs(d) - mins(d)) / 255.0
      val code = math.min(255.0, math.max(0.0, math.round((v(d) - mins(d)) / sc).toDouble))
      val rec = (mins(d) + code * sc).toFloat
      assert(math.abs(rec - v(d)) <= sc / 2 + math.ulp(rec.abs + 1f),
        s"vec $vid dim $d: rec $rec vs ${v(d)} exceeds half-step $sc")
    }

    // determinism: a second run returns the identical ranking
    assert(topkSets(byId) == sq)
  }

  test("LSH ANN achieves reasonable recall vs exact") {
    val lsh = topkSets(Similarity.lshTopK(emb, queries, k = 10,
      tables = 16, planesPerTable = 6))
    val recalls = exact.keys.toSeq.map { q =>
      val found = lsh.getOrElse(q, Set.empty)
      (found intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean LSH recall $mean too low")
  }

  test("labelOutliers: planted stray scores far below its label peers") {
    // label 0: vectors near +x, plus ONE stray pointing at -x;
    // label 1: tight around +y (control)
    val rows =
      (0L until 10L).map(i => (i, 0L, Seq(1f, 0.01f * i, 0f, 0f))) ++
        Seq((10L, 0L, Seq(-1f, 0f, 0f, 0f))) ++
        (11L until 20L).map(i => (i, 1L, Seq(0f, 1f, 0.01f * i, 0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.labelOutliers(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 20, "every vector scored")
    val strays = got(10L)
    (0L until 10L).foreach(i =>
      assert(got(i) > 0.9, s"inlier $i: ${got(i)}"))
    assert(strays < 0.0, s"the planted stray must fall below 0: $strays")
    (11L until 20L).foreach(i =>
      assert(got(i) > 0.95, s"control label inlier $i: ${got(i)}"))
  }

  test("kmeansAssign: planted clusters separate; assignment total and stable") {
    // two tight clusters on opposite axes + the min-id init seeds
    // (vec 0 in cluster A, vec 1 in cluster B) — k=2 must recover them
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val rows = (0L until 40L).map(i =>
      (i, jitter(if (i % 2 == 0) a else b)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(df, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40, "every vector assigned")
    // perfect separation: evens together, odds together, different cells
    val evens = (0L until 40L by 2).map(got).toSet
    val odds = (1L until 40L by 2).map(got).toSet
    assert(evens.size == 1 && odds.size == 1 && evens != odds,
      s"clusters must separate: evens $evens odds $odds")
    // determinism: a second run reproduces the assignment exactly
    val again = Similarity.kmeansAssign(df, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("bm25TopK: tf drives rank, stopwords pruned, dup docs tie by id") {
    val docs = Seq(
      (0L, "zebra the the"), // the query (doc_id % 100 == 0)
      (1L, "zebra zebra the pad"),
      (2L, "zebra the pad pad"),
      (3L, "the pad pad pad"), // shares only the stopword → no row
      (4L, "zebra zebra the pad")) // exact dup of doc 1
      .toDF("doc_id", "text")
    val got = Similarity.bm25TopK(SharedTrunks.bm25Postings(docs),
      queryMod = 100, k = 10)
      .collect().sortBy(r => -r.getDouble(2) -> r.getLong(1))
    // 'the' (df 5 of 5 > 0.9·5) is a stopword; 'zebra' df 4 reaches
    // docs 1, 2, 4 — doc 3 never becomes a candidate
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 4L, 2L),
      s"rank order: ${got.toSeq}")
    // exact duplicates score BIT-identically (token-ordered fold)
    assert(got(0).getDouble(2) == got(1).getDouble(2),
      s"dup docs must tie exactly: ${got.toSeq}")
    // hand replay of doc 1's score: one shared term, tf=2, dl=4,
    // avgdl=19/5, N=5, df(zebra)=4
    val idf = math.log((5.0 - 4 + 0.5) / (4 + 0.5) + 1.0)
    val sat = (2L * 2.2) / (2L + 1.2 * (0.25 + 0.75 * 4L / (19.0 / 5)))
    assert(math.abs(got(0).getDouble(2) - idf * sat) < 1e-12,
      s"score ${got(0).getDouble(2)} vs ${idf * sat}")
  }

  test("bm25TopK: threaded tf/scored-postings trunks equal the self-built path") {
    // the shared-trunk contract (tf_postings + bm25_index billed to
    // prime): pinning the trunks must be a pure billing change, never
    // a semantic fork — row-for-row identical to the lazy composition
    // from the documents, and termFreqs is exactly the hand-spelled
    // tokenize+count
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val self = rows(Similarity.bm25TopK(
      Similarity.bm25Postings(Similarity.termFreqs(docs)), queryMod = 10))
    val tfTrunk = docs
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val viaTf = rows(Similarity.bm25TopK(
      Similarity.bm25Postings(SharedTrunks.pin(tfTrunk)), queryMod = 10))
    val viaScored = rows(Similarity.bm25TopK(
      SharedTrunks.bm25Postings(docs), queryMod = 10))
    assert(self.nonEmpty, "fixture must produce rows")
    assert(viaTf == self, "pinned tf trunk must equal the lazy path")
    assert(viaScored == self, "pinned scored index must equal the lazy path")
  }

  test("bm25MaxScoreTopK: both plan branches equal the exhaustive reference") {
    // two corpus shapes: all-common vocabulary (direct branch wins
    // the cost estimate) and a Zipf-ish one with rare discriminative
    // tokens (pruned branch wins). BOTH branches are forced on BOTH
    // shapes — the pruning must be lossless everywhere, the estimate
    // only picks cost.
    def reference(rows: Seq[(Long, String)], queryMod: Int,
                  k: Int): Map[(Long, Long), Double] = {
      val toks = rows.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val tf = toks.map { case (id, ts) =>
        id -> ts.groupBy(identity).view.mapValues(_.size.toLong).toMap }
      val n = rows.size.toDouble
      val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
      val df = tf.values.flatMap(_.keys).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
        .filter { case (_, d) => d >= 2 && d <= math.floor(0.9 * n) }
      val out = scala.collection.mutable.Map[(Long, Long), Double]()
      for ((q, _) <- rows if q % queryMod == 0) {
        val scored = rows.collect { case (d, _) if d != q =>
          val shared = (tf(q).keySet intersect tf(d).keySet intersect
            df.keySet).toSeq.sorted
          val s = shared.foldLeft(0.0) { (acc, t) =>
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            val sat = (tf(d)(t) * 2.2) /
              (tf(d)(t) + 1.2 * (0.25 + 0.75 * toks(d).size / avgdl))
            acc + idf * sat
          }
          (d, s)
        }.filter(_._2 > 0.0)
        scored.sortBy { case (d, s) => (-s, d) }.take(k)
          .foreach { case (d, s) => out((q, d)) = s }
      }
      out.toMap
    }
    val common = (0L until 30L).map(i =>
      (i, s"alpha beta gamma delta w${i % 3}"))
    val zipf = (0L until 30L).map(i =>
      (i, s"the the of rare${i % 15} odd${i % 10}"))
    for (rows <- Seq(common, zipf); branch <- Seq(true, false)) {
      val want = reference(rows, queryMod = 10, k = 3)
      val got = Similarity.bm25MaxScoreTopK(
          SharedTrunks.bm25Postings(rows.toDF("doc_id", "text")),
          queryMod = 10, k = 3, forcePruned = Some(branch))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(got.keySet == want.keySet,
        s"branch=$branch rows=${rows.head._2}: ${got.keySet} vs ${want.keySet}")
      got.foreach { case (key, s) =>
        assert(math.abs(s - want(key)) < 1e-9, s"$key: $s vs ${want(key)}")
      }
    }
  }

  test("bm25MaxScoreTopK: pruned branch ENGAGES on a Zipf vocabulary") {
    // the 100x pruning story must not rest on the volume estimator
    // alone: on a Zipf-shaped corpus (few broad tokens, a long tail
    // of rare discriminative ones) the estimate must PICK the pruned
    // branch, the essential postings must be a small fraction of the
    // exhaustive fan-out, block-max must prune a majority of blocks,
    // and the estimator-chosen plan must equal the forced-direct one.
    // sampleMod COPRIME to the token periods (7 vs 3/40/300) so the
    // θ sample sees the mid-tier sharers, not just common-token hits
    val rows = (0L until 600L).map(i =>
      (i, s"filler common${i % 3} mid${i % 40} rare${i % 300}"))
    val posts = SharedTrunks.bm25Postings(rows.toDF("doc_id", "text"))
    val est = Similarity.bm25MaxScoreEstimate(posts, queryMod = 100,
      k = 2, sampleMod = 7, blockSize = 8)
    assert(est.usePruned,
      s"estimate must pick pruned: v_pruned=${est.vPruned} " +
        s"v_direct=${est.vDirect}")
    assert(est.essPostings * 3 <= est.vDirect,
      s"essential postings must be a small fraction of the fan-out: " +
        s"ess=${est.essPostings} direct=${est.vDirect}")
    assert(est.blocksSurviving * 2 <= est.blocksTotal,
      s"block-max must prune a majority of blocks: " +
        s"surviving=${est.blocksSurviving} of ${est.blocksTotal}")
    def res(force: Option[Boolean]) =
      Similarity.bm25MaxScoreTopK(posts, queryMod = 100, k = 2,
          sampleMod = 7, blockSize = 8, forcePruned = force)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val chosen = res(None)
    assert(chosen.nonEmpty && chosen == res(Some(false)),
      "estimator-chosen pruned plan must equal the forced-direct ranking")
  }

  test("bm25MaxScoreTopK: no relation keyed by query_id is broadcast by hint") {
    // qPosts, θ, the essential candidates and the survivor side all
    // grow with corpus / queryMod, so their join strategy is left to
    // the planner: with both broadcast thresholds off, no broadcast
    // in the executed plan may carry query_id, in either branch, and
    // the rows stay those of the default config
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    val rows = (0L until 600L).map(i =>
      (i, s"filler common${i % 3} mid${i % 40} rare${i % 300}"))
    val posts = SharedTrunks.bm25Postings(rows.toDF("doc_id", "text"))
    def run(branch: Boolean) =
      Similarity.bm25MaxScoreTopK(posts, queryMod = 100, k = 2,
        sampleMod = 7, blockSize = 8, forcePruned = Some(branch))
    def sorted(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    for (branch <- Seq(true, false)) {
      val want = sorted(run(branch))
      val saved = thresholds.map(k => k -> spark.conf.getOption(k))
      thresholds.foreach(spark.conf.set(_, "-1"))
      try {
        val df = run(branch)
        val got = sorted(df)
        val keyed = Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
          case b: BroadcastExchangeExec if b.output.exists(_.name == "query_id") => b
        }
        assert(keyed.isEmpty, s"branch=$branch broadcasts by hint:\n" +
          keyed.map(_.output.mkString(", ")).mkString("\n"))
        assert(got.nonEmpty && got == want, s"branch=$branch rows changed")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("LSH multiprobe lifts recall at the same table layout") {
    def meanRecall(mp: Int): Double = {
      val got = topkSets(Similarity.lshTopK(emb, queries, k = 10,
        tables = 16, planesPerTable = 7, multiprobe = mp))
      exact.keys.toSeq
        .map(q => (got.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    }
    val (one, two) = (meanRecall(1), meanRecall(2))
    // the second margin-ordered bucket only ADDS candidates, so
    // recall is monotone in probes — require a strict, non-trivial
    // lift. (No absolute floor here: this fixture is the sf0.001
    // 200-vector corpus, where 2^7 buckets splinter ~1.6 vectors
    // each — AnnRecallGateSpec holds the 0.64 floor at sf0.1, the
    // corpus the floor is calibrated for.)
    assert(two >= one + 0.05, s"multiprobe 2 ($two) must lift over 1 ($one)")
  }

  test("IVF ANN achieves reasonable recall vs exact and beats nprobe=1") {
    val ivf4 = topkSets(Similarity.ivfTopK(emb, queries, k = 10, nlist = 8, nprobe = 4))
    val recalls = exact.keys.toSeq.map { q =>
      (ivf4.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean IVF recall $mean too low")

    val ivf8 = topkSets(Similarity.ivfTopK(emb, queries, k = 10, nlist = 8, nprobe = 8))
    // probing every cell == exact search
    assert(ivf8 == exact)
  }

  test("k-means training does not hurt IVF recall") {
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q =>
        (m.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    val naive = recall(topkSets(
      Similarity.ivfTopK(emb, queries, k = 10, nlist = 8, nprobe = 4)))
    val trained = recall(topkSets(
      Similarity.ivfTopKTrained(emb, queries, k = 10, nlist = 8, nprobe = 4, iters = 3)))
    assert(trained >= naive - 0.05, s"trained $trained vs naive $naive")
    assert(trained >= 0.5, s"trained recall $trained too low")
  }

  test("PQ ANN achieves reasonable recall and rerank improves it") {
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q =>
        (m.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    val reranked = recall(topkSets(
      Similarity.pqTopK(emb, queries, k = 10, m = 8, nCodes = 16, rerank = 4)))
    assert(reranked >= 0.5, s"PQ recall $reranked too low")
    val narrow = recall(topkSets(
      Similarity.pqTopK(emb, queries, k = 10, m = 8, nCodes = 16, rerank = 1)))
    assert(reranked >= narrow - 1e-9,
      s"wider rerank pool must not lose recall: $reranked vs $narrow")
  }

  test("per-subspace k-means refinement does not hurt PQ recall") {
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q =>
        (m.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    val init = recall(topkSets(
      Similarity.pqTopK(emb, queries, k = 10, rerank = 4)))
    val refined = recall(topkSets(
      Similarity.pqTopK(emb, queries, k = 10, rerank = 4, kmeansIters = 2)))
    assert(refined >= init - 0.05, s"refined $refined vs init $init")
    assert(refined >= 0.5, s"refined recall $refined too low")
  }

  test("IVF+PQ composed index recalls reasonably; full probe ≈ plain PQ") {
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q =>
        (m.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    val partial = recall(topkSets(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 8, nprobe = 4)))
    assert(partial >= 0.4, s"IVF+PQ recall $partial too low")
    // probing every cell degenerates to plain PQ search
    val full = topkSets(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 8, nprobe = 8))
    val plain = topkSets(
      Similarity.pqTopK(emb, queries, k = 10, rerank = 4))
    assert(full == plain, "nprobe=nlist must equal plain PQ search")
  }

  test("residual IVF-PQ reconstructs tighter than plain-code IVF-PQ") {
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q =>
        (m.getOrElse(q, Set.empty) intersect exact(q)).size / 10.0)
        .sum / exact.size
    val residual = recall(topkSets(
      Similarity.ivfPqResidualTopK(emb, queries, k = 10, nlist = 8, nprobe = 4)))
    val plain = recall(topkSets(
      Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 8, nprobe = 4)))
    // the uplift claim, with slack for sampling luck on a small corpus
    assert(residual >= plain - 0.05,
      s"residual recall $residual must not trail plain $plain")
    assert(residual >= 0.4, s"residual IVF-PQ recall $residual too low")

    // reconstruction-error check, like-for-like (both Lloyd-refined,
    // same iters): residual coding must reconstruct tighter
    val cents = Similarity.trainCentroids(emb, 8, iters = 2)
    val rcbs = Similarity.trainResidualCodebooksKMeans(emb, cents, m = 8, k = 16, iters = 2)
    val pcbs = Similarity.trainPqCodebooksKMeans(emb, m = 8, k = 16, iters = 2)
    import org.apache.spark.sql.functions._
    val gf = graft.functions.gf
    val assigned = emb.select(col("embedding"),
      gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
    val errs = assigned.select(
      abs(lit(1.0) - gf.pqCosineResidual(col("embedding"),
        gf.pqEncodeResidual(col("embedding"), col("cell"), cents, rcbs),
        col("cell"), cents, rcbs)).as("residual_err"),
      abs(lit(1.0) - gf.pqCosine(col("embedding"),
        gf.pqEncode(col("embedding"), pcbs), pcbs)).as("plain_err"))
      .agg(avg("residual_err"), avg("plain_err")).collect()(0)
    val (rErr, pErr) = (errs.getDouble(0), errs.getDouble(1))
    assert(rErr < pErr,
      s"self-reconstruction error must shrink: residual $rErr vs plain $pErr")
  }

  test("rerank with zero boost degenerates to exact top-k") {
    val plain = topkSets(
      Similarity.rerankTopK(emb, queries, k = 10, labelBoost = 0.0)
        .withColumnRenamed("rerank_score", "cosine"))
    assert(plain == exact,
      "a reranker that adds nothing must preserve the stage-1 order")
  }

  test("rerank only promotes stage-1 candidates and the boost reorders") {
    val reranked = Similarity.rerankTopK(emb, queries, k = 10, expand = 4,
      labelBoost = 0.05)
    val byQ = reranked.collect().groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 10))
    // closed-world: every survivor came from the k·expand cosine pool
    val pool = topkSets(Similarity.bruteForceTopK(emb, queries, k = 40))
    assert(byQ.forall { case (q, rows) =>
      rows.map(_.getLong(1)).toSet.subsetOf(pool(q)) })
    // a large boost must let label affinity override raw cosine
    // somewhere on this corpus (labels are non-degenerate)
    val big = topkSets(Similarity.rerankTopK(emb, queries, k = 10,
      expand = 4, labelBoost = 10.0))
    assert(big != exact, "an overwhelming boost must change some top-k")
  }

  test("knnClassify predicts the deterministic majority of exact neighbors") {
    val out = Similarity.knnClassify(emb, queries, k = 10).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(4)))
      .toMap
    assert(out.keySet == exact.keySet, "every query gets exactly one prediction")
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    exact.foreach { case (q, ns) =>
      val counts = ns.groupBy(labels).map { case (l, s) => l -> s.size }
      val (bestLabel, bestVotes) = counts.toSeq.minBy { case (l, c) => (-c, l) }
      assert(out(q)._1 == bestLabel && out(q)._2 == bestVotes.toLong,
        s"query $q: got ${out(q)}, expected ($bestLabel, $bestVotes)")
      assert(out(q)._3 == (bestLabel == labels(q)))
    }
  }

  test("PQ codes are deterministic and within code range") {
    val cbs = Similarity.trainPqCodebooks(emb, m = 8, k = 16)
    assert(cbs.length == 8 && cbs.forall(cb => cb.length == 16 && cb.forall(_.length == 8)))
    val codes = emb.select($"vec_id",
      graft.functions.gf.pqEncode($"embedding", cbs).as("codes"))
      .as[(Long, Seq[Int])].collect()
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
    val again = emb.repartition(7).select($"vec_id",
      graft.functions.gf.pqEncode($"embedding", cbs).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.forall { case (id, cs) => again(id) == cs })
  }

  test("filteredTopK: pre-filter returns the true top-k of the eligible set") {
    import org.apache.spark.sql.functions.col
    val pred = col("label") % 3 === 0
    val got = topkSets(Similarity.filteredTopK(emb, queries, pred, k = 10))
    val eligibleLabels = emb.filter(pred).select("vec_id")
      .as[Long].collect().toSet
    // every neighbor satisfies the predicate, every query still gets k
    got.foreach { case (q, ns) =>
      assert(ns.subsetOf(eligibleLabels), s"query $q leaked a filtered-out vec")
      assert(ns.size == 10, s"pre-filter must still fill k for query $q")
    }
    // and it is exactly brute-force over the restricted corpus —
    // NOT a post-filter of the unrestricted top-k (which would lose
    // whatever the exact top-10 had outside the predicate)
    val reference = topkSets(
      Similarity.bruteForceTopK(emb.filter(pred), queries, k = 10))
    assert(got == reference)
    val postFiltered = exact.map { case (q, ns) =>
      q -> ns.intersect(eligibleLabels) }
    assert(postFiltered.exists { case (q, ns) => ns.size < 10 },
      "fixture sanity: post-filtering would under-fill at least one query")
  }

  test("ivfFilteredTopK: shared index + predicate, recall vs exact filtered") {
    import org.apache.spark.sql.functions.col
    val pred = col("label") % 3 === 0
    val exactFiltered = topkSets(Similarity.filteredTopK(emb, queries, pred, k = 10))
    val ivf = topkSets(
      Similarity.ivfFilteredTopK(emb, queries, pred, k = 10, nprobe = 8))
    val eligible = emb.filter(pred).select("vec_id").as[Long].collect().toSet
    ivf.values.foreach(ns =>
      assert(ns.subsetOf(eligible), "no filtered-out vector may surface"))
    // .toSeq: a bare keys.map would dedup equal per-query recalls
    // (Set semantics) and silently undercount the mean
    val recall = exactFiltered.keys.toSeq.map(q =>
      ivf.getOrElse(q, Set.empty[Long]).intersect(exactFiltered(q)).size / 10.0)
      .sum / exactFiltered.size
    assert(recall >= 0.5,
      f"probing half the cells should recover >=50%% of exact filtered top-10, got $recall%.2f")
  }

  test("ivf cell stats: full spine, counts conserve, balance is share×nlist") {
    val nlist = 8
    val rows = Similarity.ivfCellStats(emb, nlist).collect()
    assert(rows.length == nlist, "one row per cell, empty cells included")
    assert(rows.map(_.getAs[Int]("cell")).sorted.toSeq == (0 until nlist),
      "cells form the complete 0..nlist-1 spine")
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == emb.count(),
      "every corpus vector lands in exactly one cell")
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4,
      "shares partition the corpus")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("balance") -
        r.getAs[Double]("share") * nlist) < 1e-4,
        "balance is share scaled by nlist")
    }
  }

  test("normProfile: exact envelope on crafted vectors, zero vectors counted") {
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f), 0),        // norm 5
      (2L, Array(0.0f, 0.0f), 0),        // zero vector
      (3L, Array(6.0f, 8.0f), 0),        // norm 10
      (4L, Array(1.0f, 0.0f, 0.0f), 1))  // norm 1, dim 3
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.normProfile(vecs).collect()
      .map(r => r.getInt(0) -> r).toMap
    val l0 = got(0)
    assert(l0.getLong(1) == 3L, s"label-0 count: $l0")
    assert(l0.getInt(2) == 2 && l0.getInt(3) == 2, s"dims: $l0")
    assert(l0.getDouble(4) == 0.0 && l0.getDouble(5) == 10.0, s"envelope: $l0")
    assert(l0.getDouble(6) == 5.0, s"mean norm (5+0+10)/3: $l0")
    assert(l0.getLong(7) == 1L, s"zero-vector count: $l0")
    val l1 = got(1)
    assert(l1.getLong(1) == 1L && l1.getInt(2) == 3 &&
      l1.getDouble(4) == 1.0 && l1.getLong(7) == 0L, s"label 1: $l1")
  }

  test("dimStats: per-dimension mean/var/range on crafted coordinates") {
    val vecs = Seq(
      (1L, Array(1.0f, 5.0f), 0),
      (2L, Array(3.0f, 5.0f), 0),
      (3L, Array(5.0f, 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.dimStats(vecs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    // dim 1: {1,3,5} → mean 3, var_samp 4, range [1,5]
    assert(got(1L) == ((3L, 3.0, 4.0, 1.0, 5.0)), s"dim 1: ${got(1L)}")
    // dim 2: constant 5 → the dead-dimension readout var = 0
    assert(got(2L) == ((3L, 5.0, 0.0, 5.0, 5.0)), s"dim 2: ${got(2L)}")
  }

  test("mmrDiverse: first pick is the top-relevance hit, second prefers the diverse cand") {
    // query q along +x. Candidates: a above the axis (rel .95),
    // b = a's near-twin (rel .94, sim(a,b) ≈ 1), c = a's MIRROR
    // below the axis (same rel .94 but sim(a,c) ≈ .79). Pure top-2
    // = {a, b}; MMR at λ=0.5 must pick c second: equal relevance,
    // but b's similarity-to-selected ≈ 1 crushes its margin.
    val q = Seq((100L, Array(1.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (1L, Array(0.95f, 0.312f, 0.0f), 0),   // a: rel ~.95
      (2L, Array(0.94f, 0.341f, 0.0f), 0),   // b: a's near-twin
      (3L, Array(0.94f, -0.341f, 0.0f), 0))  // c: mirrored, diverse
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrDiverseTopK(corpus, q, k = 2, poolSize = 3)
      .collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got(1L) == 1L, s"rank 1 must be the top-relevance hit: $got")
    assert(got(2L) == 3L, s"rank 2 must be the diverse candidate: $got")
    // determinism: a repartitioned input yields the identical ranking
    val again = Similarity.mmrDiverseTopK(corpus.repartition(5), q,
      k = 2, poolSize = 3).collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(again == got, "partition-dependent MMR")
  }

  test("centroidDrift: identical snapshots cosine 1, mirrored snapshots cosine -1") {
    val a = Seq(
      (1L, Array(1.0f, 2.0f), 0), (2L, Array(3.0f, 4.0f), 0),
      (3L, Array(0.0f, 2.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val same = Similarity.centroidDrift(a, a).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(same(0) == ((2L, 2L, 1.0)) && same(1) == ((1L, 1L, 1.0)),
      s"identical snapshots must not drift: $same")
    import org.apache.spark.sql.functions.transform
    val mirrored = a.withColumn("embedding",
      transform(col("embedding"), x => -x))
    val flip = Similarity.centroidDrift(a, mirrored).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(flip(0) == -1.0 && flip(1) == -1.0, s"mirror must read -1: $flip")
  }

  test("mmrDiverse: lambda=1 degenerates to exact top-k order") {
    val vecs = (1 to 8).map(i =>
      (i.toLong, Array(1.0f, i * 0.1f, (9 - i) * 0.05f), 0))
      .toDF("vec_id", "embedding", "label")
    val q = vecs.filter(col("vec_id") === 1L)
    val mmr = Similarity.mmrDiverseTopK(vecs, q, k = 5, poolSize = 8,
      lambda = 1.0).collect()
      .sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    val exact = Similarity.bruteForceTopK(vecs, q, k = 5).collect()
      .map(_.getLong(1)).toSeq
    assert(mmr == exact, s"λ=1 must reproduce the relevance order: $mmr vs $exact")
  }

  test("pairDistanceHistogram: sample slice, oriented pairs, exact shares") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (10L, Array(0.0f, 1.0f)),
      (20L, Array(1.0f, 0.0f)), (30L, Array(-1.0f, 0.0f)),
      (7L, Array(1.0f, 1.0f))) // not % 10 — must be excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.pairDistanceHistogram(vecs).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // 4 sampled vectors → 6 pairs: three orthogonal (bin 0.0), one
    // identical (cos 1 → bin_lo 1.0), two opposite (cos −1 → −1.0)
    assert(got == Map(
      0.0 -> ((3L, 0.5)), 1.0 -> ((1L, round6(1.0 / 6))),
      -1.0 -> ((2L, round6(2.0 / 6)))), s"histogram: $got")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("hubness: planted hub dominates in-degree; mass and reciprocity exact") {
    def at(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // two tight pairs (0°/10° and 180°/190°) plus a 90° vector that is
    // everyone's second-best — the planted hub; id 3 is off-sample
    val vecs = Seq(
      (0L, at(0)), (5L, at(10)), (10L, at(180)), (15L, at(190)),
      (20L, at(90)), (3L, at(45)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hubness(vecs, sampleMod = 5, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((2L, 2L)), 5L -> ((2L, 2L)), 10L -> ((1L, 1L)),
      15L -> ((1L, 1L)), 20L -> ((4L, 2L))), s"hub graph: $got")
    // invariants: in-degree mass is k·n; reciprocity is symmetric so
    // its total is even
    assert(got.values.map(_._1).sum == 2L * 5)
    assert(got.values.map(_._2).sum % 2 == 0)
  }

  test("rrfFuse: consensus outranks a single-list favourite") {
    // candidate 30 sits at rank 2 in BOTH lists (2/62 ≈ 0.0323);
    // candidates 10 and 20 are each rank 1 in exactly one list
    // (1/61 ≈ 0.0164) — RRF must put the consensus candidate first
    val a = Seq((0L, 10L, 1), (0L, 30L, 2), (0L, 40L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((0L, 20L, 1), (0L, 30L, 2), (0L, 50L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val fused = Similarity.rrfFuse(Seq(a, b), k = 10).collect()
      .sortBy(r => -r.getDouble(2)).map(_.getLong(1)).toSeq
    assert(fused.head == 30L, s"consensus candidate must lead: $fused")
    // equal-score singles (rank-1-in-one-list each) break by id
    assert(fused.slice(1, 3) == Seq(10L, 20L), s"id tie-break: $fused")
    // score arithmetic replays exactly: 2/(60+2) for the consensus row
    val s30 = Similarity.rrfFuse(Seq(a, b), k = 10).collect()
      .find(_.getLong(1) == 30L).get.getDouble(2)
    assert(s30 == 1.0 / 62 + 1.0 / 62)
  }

  test("hybridRrfTopK: k rows per query, dense-only and lexical ranks fuse") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Similarity.hybridRrfTopK(docs, emb)
    val byQ = got.collect().groupBy(_.getLong(0))
    val nq = emb.filter($"vec_id" % 100 === 0).count()
    assert(byQ.size == nq, s"every query present: ${byQ.size} vs $nq")
    assert(byQ.values.forall(_.length == 10), "exactly k=10 fused rows per query")
    // fused scores are sums of 1/(60+r) terms with r in 1..20 — every
    // score must be inside the achievable envelope (one term min, two max)
    val scores = got.collect().map(_.getDouble(2))
    assert(scores.forall(s => s >= 1.0 / 80 - 1e-12 && s <= 2.0 / 61 + 1e-12),
      "scores within the single/double-contribution envelope")
    // determinism: a second build is row-identical
    val again = Similarity.hybridRrfTopK(docs, emb)
    assert(got.collect().toSet == again.collect().toSet)
  }
}
