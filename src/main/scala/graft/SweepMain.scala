package graft
import org.apache.spark.sql.functions.col

import graft.operators.Similarity

/** Dev tool: recall@10 sweep of the ANN tiers over (nlist, nprobe, m)
  * on sf0.01 — docs/ANN_SWEEP.md is generated from this output.
  * Ground truth is exact brute force on the same query set.
  */
object SweepMain {
  def main(a: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables
      .embeddings(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
      .cache()
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val exact = RecallFloors.neighborSets(
      Similarity.bruteForceTopK(emb, queries, k = 10))
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      RecallFloors.macroRecall(RecallFloors.neighborSets(approx), exact)
    // multiprobe axis at FIXED candidate budget: expected candidate
    // fraction ≈ tables·probes/2^planes — all 0.250 rows spend what
    // the r9 driver point (16×6×1) spends; margin-ordered adjacent
    // buckets vs independent tables is the only variable.
    println("| LSH tables | planes | probes | budget | recall@10 |")
    println("| --- | --- | --- | --- | --- |")
    for ((tables, planes, probes) <- Seq(
      (16, 6, 1), (8, 6, 2), (4, 6, 4), (16, 7, 2), (8, 7, 4),
      (4, 7, 8), (8, 8, 8), (16, 8, 4), (8, 7, 2), (16, 8, 2))) {
      val r = recall(Similarity.lshTopK(emb, queries, 10,
        tables = tables, planesPerTable = planes, multiprobe = probes))
      val budget = tables.toDouble * probes / (1 << planes)
      println(f"| $tables | $planes | $probes | $budget%.3f | $r%.3f |")
    }
    println("| index | nlist | nprobe | m | recall@10 |")
    println("| --- | --- | --- | --- | --- |")
    for (nlist <- Seq(16, 64); nprobe <- Seq(2, 4, 8)) {
      val r = recall(Similarity.ivfTopK(emb, queries, 10, nlist, nprobe))
      println(f"| IVF | $nlist | $nprobe | – | $r%.3f |")
    }
    for (m <- Seq(8, 16)) {
      val r = recall(Similarity.pqTopK(emb, queries, 10, m = m,
        nCodes = 16, rerank = 4))
      println(f"| PQ (rerank 4) | – | – | $m | $r%.3f |")
    }
    for (m <- Seq(8, 16); rerank <- Seq(8); nCodes <- Seq(16, 32)) {
      val r = recall(Similarity.pqTopK(emb, queries, 10, m = m,
        nCodes = nCodes, rerank = rerank))
      println(f"| PQ (rerank $rerank, nCodes $nCodes) | – | – | $m | $r%.3f |")
    }
    // LSH axis: bucket width (planes/table) vs table count — recall
    // tracks the candidate fraction each combination scans
    println("| LSH tables | planes | recall@10 |")
    println("| --- | --- | --- |")
    for (tables <- Seq(8, 16); planes <- Seq(5, 6, 8)) {
      val r = recall(Similarity.lshTopK(emb, queries, 10,
        tables = tables, planesPerTable = planes))
      println(f"| $tables | $planes | $r%.3f |")
    }
    for (nprobe <- Seq(4, 8); m <- Seq(8, 16)) {
      val plain = recall(Similarity.ivfPqTopK(emb, queries, 10,
        nlist = 16, nprobe = nprobe, m = m))
      val res = recall(Similarity.ivfPqResidualTopK(emb, queries, 10,
        nlist = 16, nprobe = nprobe, m = m))
      println(f"| IVF-PQ plain | 16 | $nprobe | $m | $plain%.3f |")
      println(f"| IVF-PQ residual | 16 | $nprobe | $m | $res%.3f |")
    }
    // rerank-depth axis at FIXED scan bytes (nlist=16, nprobe=8,
    // m=16): nCodes widens only the broadcast codebook and rerank
    // only the exact-rescore set — the free recall dials the r9
    // driver retune was chosen from
    println("| index | nCodes | rerank | recall@10 |")
    println("| --- | --- | --- | --- |")
    for (nCodes <- Seq(16, 32); rerank <- Seq(4, 8, 16)) {
      val plain = recall(Similarity.ivfPqTopK(emb, queries, 10,
        nlist = 16, nprobe = 8, m = 16, nCodes = nCodes, rerank = rerank))
      println(f"| IVF-PQ plain | $nCodes | $rerank | $plain%.3f |")
    }
    for (nCodes <- Seq(16, 32); rerank <- Seq(8, 16)) {
      val res = recall(Similarity.ivfPqResidualTopK(emb, queries, 10,
        nlist = 16, nprobe = 8, m = 16, nCodes = nCodes, rerank = rerank,
        kmeansIters = 1))
      println(f"| IVF-PQ residual | $nCodes | $rerank | $res%.3f |")
    }
    // codebook-size axis: residual coding error vs code budget
    // (nCodes entries per subspace = log2(nCodes) bits/subspace)
    println("| index | nprobe | m | nCodes | recall@10 |")
    println("| --- | --- | --- | --- | --- |")
    for (nCodes <- Seq(8, 16, 64); m <- Seq(8, 16)) {
      val r = recall(Similarity.ivfPqResidualTopK(emb, queries, 10,
        nlist = 16, nprobe = 4, m = m, nCodes = nCodes))
      println(f"| IVF-PQ residual | 4 | $m | $nCodes | $r%.3f |")
    }
    // PCA axis: projected-space cosine pre-pass — pcaDims sets the
    // scan-byte fraction (pcaDims/64), rerank the exact re-score depth
    println("| index | pcaDims | rerank | recall@10 |")
    println("| --- | --- | --- | --- |")
    for (pcaDims <- Seq(16, 32, 48); rerank <- Seq(4, 8)) {
      val r = recall(graft.operators.Pca.pcaTopK(emb, queries, 10,
        pcaDims = pcaDims, rerank = rerank))
      println(f"| PCA pre-pass | $pcaDims | $rerank | $r%.3f |")
    }
    // cell-balance axis: does k-means training buy a flatter index
    // than the deterministic hash pick? (max balance = worst probe
    // concentration; nonempty = cells actually carrying vectors)
    println("| centroids | nlist | min bal | max bal | nonempty |")
    println("| --- | --- | --- | --- | --- |")
    for (nlist <- Seq(16, 64);
         (tag, cents) <- Seq(
           "picked" -> Similarity.pickCentroids(emb, nlist),
           "trained" -> Similarity.trainCentroids(emb, nlist,
             iters = 3, sampleCap = 4096))) {
      val st = Similarity.ivfCellStatsOf(emb, cents).collect()
      val bal = st.map(_.getAs[Double]("balance"))
      val ne = st.count(_.getAs[Long]("n_vecs") > 0)
      println(f"| $tag | $nlist | ${bal.min}%.2f | ${bal.max}%.2f | $ne |")
    }
    spark.stop()
  }
}
