package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Persisted IVF index as a lake layout: the search structure IS the
  * physical layout, nothing more.
  *
  * - `<path>/centroids` — nlist (cell, centroid) rows; broadcast-
  *   sized model state, loaded to the driver at probe time exactly
  *   like the in-memory variant trains it.
  * - `<path>/vectors` — the corpus partitioned BY CELL. Probing
  *   `nprobe` of `nlist` cells is then a partition-PRUNED scan: the
  *   nprobe/nlist read fraction that [[Similarity.ivfPqTopK]] gets
  *   logically becomes physical — unprobed cells' files are never
  *   opened (spec-asserted via scan metrics).
  *
  * Build once, probe many: amortizes centroid training and cell
  * assignment across every subsequent query batch, which is how an
  * ANN service over a 100 TB embedding corpus actually runs.
  */
object AnnIndex {

  /** Train (or pick, iters=0) centroids, assign each corpus vector
    * to its nearest cell, and write the layout. */
  def buildIvf(corpus: DataFrame, path: String,
               nlist: Int = 16, iters: Int = 0,
               knownN: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids =
      if (iters == 0) Similarity.pickCentroids(corpus, nlist, knownN)
      else Similarity.trainCentroids(corpus, nlist, iters)
    // the model write and the layout write share nothing once the
    // centroids are on the driver — submit them concurrently (two
    // independent jobs; a cluster runs them as parallel pipelines)
    graft.SharedArtifacts.concurrently(spark)(
      () => centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => corpus
        .select(col("vec_id"), col("embedding"),
          gf.nearestCentroids(col("embedding"), centroids, 1)(0).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors"))
  }

  /** Session-scoped MODEL-STATE memo: a serving probe loads an
    * index's centroids/codebooks once and keeps them — re-reading
    * nlist rows of immutable model parquet per probe batch is a
    * Spark job (file listing + scan + collect) paid for nothing.
    * Entries live in [[graft.SharedArtifacts]] per (session, model
    * dir), so they are evicted with the session's context, and each
    * carries the dir's [[graft.SharedArtifacts.pathStamp]]:
    * [[rebuildIvf]]'s in-place centroid rewrite — the one mutation of
    * model files this layout has — changes the stamp, and a stamp
    * mismatch reloads and replaces the entry. Appends/deletes touch only
    * `vectors`/`tombstones`, never the model dirs, so their hits are
    * correct by construction. */
  private val modelMemo = graft.SharedArtifacts.key[AnyRef]("ann_model")

  private def cachedModel[T <: AnyRef](spark: SparkSession, dir: String)
                                      (load: => T): T =
    graft.SharedArtifacts.getOrElseUpdate(spark, modelMemo, dir,
      stamp = graft.SharedArtifacts.pathStamp(spark, dir))(load).asInstanceOf[T]

  /** The broadcastable model state back from disk. */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    cachedModel(spark, s"$path/centroids") {
      spark.read.parquet(s"$path/centroids")
        .orderBy("cell")
        .collect()
        .map(_.getSeq[Float](1).toArray)
    }

  /** INCREMENTAL maintenance — the daily-ingest shape for a serving
    * index: assign a new vector batch to the index's STORED
    * centroids (never retrained here — retraining would re-cell the
    * existing corpus, i.e. a rebuild) and append its cell partitions.
    * Cost is one scan of the delta; history is never rewritten, and
    * a probe after append ≡ a probe over an index built with the
    * same centroids on the union corpus (spec-held). Cell balance
    * drifts as the data does — watch [[Similarity.ivfCellStats]]
    * (`balance` of the hot cell) to decide when a re-train/rebuild
    * pays; that is the same compact-vs-rebuild economics as
    * [[DedupStore]]'s fingerprint log.
    */
  def appendIvf(newVectors: DataFrame, path: String): Unit = {
    val centroids = loadCentroids(newVectors.sparkSession, path)
    newVectors
      .select(col("vec_id"), col("embedding"),
        gf.nearestCentroids(col("embedding"), centroids, 1)(0).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Top-k cosine search against the persisted index. The probed
    * cell set (≤ |queries|·nprobe distinct values, typically ≪
    * nlist) becomes a static `IN` partition filter, so the scan
    * opens only probed cells' files. With `maskDeletes` the
    * tombstone log masks candidates at probe time (see
    * [[deleteIvf]]) — EXACT delete semantics without touching the
    * layout. */
  def probeIvf(spark: SparkSession, path: String, queries: DataFrame,
               k: Int = 10, nprobe: Int = 4,
               maskDeletes: Boolean = false): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val probed = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      explode(gf.nearestCentroids(col("embedding"), centroids, nprobe)).as("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    // an empty query batch (a quiet streaming micro-batch) probes
    // nothing: an empty IN-list must not reach the scan filter
    if (cells.isEmpty)
      return probed.select(col("query_id"),
        col("query_id").as("neighbor_id"), lit(0.0).as("cosine"))
    val raw = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    val live = if (!maskDeletes) raw
      else raw.join(broadcast(tombstones(spark, path)),
        Seq("vec_id"), "left_anti")
    val vectors = live
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("cell"))
    Similarity.topKPerQuery(
      probed.join(vectors, Seq("cell"))
        .transform(Similarity.scoredPairs(gf.cosineSim(col("q_emb"), col("n_emb")))), k)
  }

  /** DELETE lifecycle, step 1 of 2 — the tombstone write: dead ids
    * append to `<path>/tombstones` (8 bytes a deletion; the layout
    * itself is untouched, so a delete costs O(batch) regardless of
    * corpus size). Probes mask against the log (`maskDeletes`) —
    * exact semantics immediately, the standard vector-store design
    * (tombstone now, reclaim space later). Duplicate tombstones are
    * harmless: every reader goes through [[tombstones]]' DISTINCT. */
  def deleteIvf(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(s"$path/tombstones")

  /** The distinct tombstoned ids — empty relation when no delete has
    * ever run against this index. */
  def tombstones(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (new org.apache.hadoop.fs.Path(s"$path/tombstones")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
      spark.read.parquet(s"$path/tombstones").select("vec_id").distinct()
    else Seq.empty[Long].toDF("vec_id")
  }

  /** DELETE lifecycle, step 2 — the compaction PLAN (the
    * `lake_compaction_plan` pattern): per cell, live/dead counts and
    * the rewrite decision (dead fraction above `maxDeadFrac`). Pure
    * metadata — nlist rows from one cell-grain aggregate over the
    * layout plus the broadcast tombstone log; nothing is rewritten,
    * so the plan is idempotent and oracle-able. */
  def compactPlanIvf(spark: SparkSession, path: String,
                     maxDeadFrac: Double = 0.14): DataFrame = {
    val dead = broadcast(tombstones(spark, path))
    val perCell = spark.read.parquet(s"$path/vectors")
      .join(dead.withColumn("is_dead", lit(1L)), Seq("vec_id"), "left")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum("is_dead"), lit(0L)).as("n_dead"))
    val nlist = loadCentroids(spark, path).length
    spark.range(nlist).select(col("id").cast("int").as("cell"))
      .join(perCell, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("n_dead"), lit(0L)).as("n_dead"))
      .withColumn("dead_frac", round(
        when(col("n_vecs") > 0,
          col("n_dead").cast("double") / col("n_vecs")).otherwise(0.0), 6))
      .withColumn("rewrite", col("dead_frac") > maxDeadFrac)
  }

  /** Index HEALTH readout — the decision table the maintenance loop
    * exists to drive (r15), closing build → append → delete →
    * compact with the "when do I rebuild" answer: per cell, the
    * live/dead counts and dead fraction (the compact dial) PLUS the
    * cell balance (n_vecs · nlist / total — the probe-concentration
    * dial append drift moves); `cell_action` = rewrite when the dead
    * fraction crosses `maxDeadFrac`, and `index_action` = rebuild
    * when ANY cell's balance crosses `maxBalance` (a hot cell makes
    * every probe that touches it scan its overweight share — the
    * fix is retraining centroids, not compacting files, which is
    * why it is an INDEX-level decision carried on every row).
    * Metadata-sized: nlist rows off one cell-grain aggregate; the
    * same plan at any corpus size. */
  def indexHealth(spark: SparkSession, path: String,
                  maxDeadFrac: Double = 0.14,
                  maxBalance: Double = 1.25): DataFrame = {
    val plan = compactPlanIvf(spark, path, maxDeadFrac)
    val nlist = loadCentroids(spark, path).length
    val tot = plan.agg(sum("n_vecs").as("total"))
    import org.apache.spark.sql.expressions.Window
    plan.crossJoin(broadcast(tot))
      .withColumn("balance", round(
        when(col("total") > 0,
          col("n_vecs").cast("double") * nlist / col("total"))
          .otherwise(0.0), 6))
      .withColumn("cell_action",
        when(col("rewrite"), lit("rewrite")).otherwise(lit("ok")))
      .withColumn("index_action",
        when(max(col("balance")).over(
          Window.partitionBy(lit(1))) > maxBalance,
          lit("rebuild")).otherwise(lit("ok")))
      .select("cell", "n_vecs", "n_dead", "dead_frac", "balance",
        "cell_action", "index_action")
  }

  /** DELETE lifecycle, step 3 — compaction APPLY: cells the plan
    * flags are rewritten without their dead rows (dynamic partition
    * overwrite — untouched cells' files are never opened), and the
    * tombstone log shrinks to the dead ids of UNTOUCHED cells only
    * (a consumed tombstone must not mask a future re-insert of the
    * same id). Probe results are IDENTICAL before and after
    * (spec-held parity): compaction reclaims space and join width,
    * never changes answers. Returns the number of rewritten cells. */
  def compactApplyIvf(spark: SparkSession, path: String,
                      maxDeadFrac: Double = 0.14): Int = {
    val plan = compactPlanIvf(spark, path, maxDeadFrac)
    val toRewrite = plan.filter(col("rewrite")).select("cell")
      .collect().map(_.getInt(0))
    if (toRewrite.isEmpty) return 0
    val dead = broadcast(tombstones(spark, path))
    val vectors = spark.read.parquet(s"$path/vectors")
    // materialize BEFORE overwriting the files they read from
    val survivors = vectors
      .filter(col("cell").isin(toRewrite.map(Integer.valueOf): _*))
      .join(dead, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val remaining = vectors
      .filter(!col("cell").isin(toRewrite.map(Integer.valueOf): _*))
      .join(dead, Seq("vec_id"), "left_semi")
      .select("vec_id")
      .localCheckpoint(true)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try survivors.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/vectors")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    remaining.write.mode("overwrite").parquet(s"$path/tombstones")
    toRewrite.length
  }

  /** DRIFT lifecycle, final step — REBUILD: the executor for
    * [[indexHealth]]'s `index_action = 'rebuild'` call. A hot cell
    * means the STORED centroids no longer describe the data (append
    * drift, deletions), and no amount of compaction fixes that —
    * only retraining does, and retraining necessarily re-cells
    * history, which is exactly what append/compact are forbidden to
    * do. So the rebuild: retrain centroids on the SURVIVING corpus
    * (tombstones consumed — the one operation allowed to rewrite
    * everything), lay out every survivor under the new cells, and
    * reset the log (a consumed tombstone must not mask a future
    * re-insert). At 100 TB this is the scheduled full rewrite the
    * health table exists to make RARE: everything cheaper (append,
    * tombstone-mask, compact) runs between rebuilds.
    *
    * Restart safety (r16, ADVICE): survivors are STAGED to durable
    * parquet (`vectors.staging`) before anything is overwritten —
    * never executor-local checkpoint blocks, whose lineage-truncated
    * state dies with a lost executor mid-overwrite. The staging
    * dir's commit marker (`_SUCCESS` from Spark's commit protocol,
    * or `_GRAFT_STAGED` which this operator stamps itself after the
    * staging write returns, so the decision survives deployments
    * that disable marksuccessfuljobs) is the recovery marker — NOT
    * bare directory existence, because Spark creates the output dir
    * at job start, so a crash mid-staging-write leaves a partial
    * dir that must be re-staged, not trusted (r17, ADVICE +
    * review). Marker present at entry ⇒ a previous rebuild
    * crashed after staging committed, and the rebuild RESUMES from
    * the staged survivors (the live `vectors` dir may be
    * half-rewritten and is never trusted); marker absent but dir
    * present ⇒ partial staging, deleted and rebuilt from the
    * still-intact live vectors (buildIvf cannot have run before
    * staging committed). Staging is deleted only after the tombstone
    * reset, so every crash window replays idempotently from durable
    * state.
    * The staged survivors are re-masked against the CURRENT log
    * unconditionally: a delete (e.g. an RTBF erasure) landing
    * between the crash and the retry would otherwise be silently
    * RESURRECTED by the replay-then-reset — the one crash window
    * where "idempotent" and "re-read the log" differ. The mask is a
    * broadcast anti-join against the distinct tombstones and a
    * no-op on the fresh path (staging was built from the same log).
    * AnnIndexSpec holds: deleted ids stay gone, the log resets, max
    * cell balance does not degrade vs the drifted layout, the
    * survivor recall floor holds after the rebuild, and a planted
    * staging dir is resumed from (and cleaned up) with a
    * post-staging delete still honoured. */
  def rebuildIvf(spark: SparkSession, path: String, nlist: Int = 16,
                 iters: Int = 3): Unit = {
    val staging = new org.apache.hadoop.fs.Path(s"$path/vectors.staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two accepted commit markers: Spark's own _SUCCESS, plus a
    // marker THIS operator writes after the staging job returns —
    // deployments that disable marksuccessfuljobs (common with
    // cloud committers) would otherwise make every committed
    // staging look partial, and the recovery path would delete good
    // staged survivors and re-stage from a possibly half-rewritten
    // live layout (r17 review finding — strictly worse than no
    // recovery at all)
    val staged = new org.apache.hadoop.fs.Path(staging, "_SUCCESS")
    val graftStaged = new org.apache.hadoop.fs.Path(staging, "_GRAFT_STAGED")
    val dead = broadcast(tombstones(spark, path))
    if (!fs.exists(staged) && !fs.exists(graftStaged)) {
      // no staging, or a partial dir from a crash mid-staging-write
      // (Spark creates the dir at job start; only a commit marker
      // means the survivors are all there) — (re-)stage from live
      // vectors, which are still intact because buildIvf runs after
      // staging
      fs.delete(staging, true)
      spark.read.parquet(s"$path/vectors")
        .select(col("vec_id"), col("embedding"))
        .join(dead, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(staging.toString)
      // the write API returned ⇒ the job committed; stamp our own
      // marker so the resume decision never depends on committer
      // configuration
      fs.create(graftStaged, true).close()
    }
    val survivors = spark.read.parquet(staging.toString)
      .join(dead, Seq("vec_id"), "left_anti")
    buildIvf(survivors, path, nlist, iters)
    // reset from a LITERAL empty frame: survivors' lineage now reads
    // the tombstone files (the resume mask), and Spark refuses an
    // overwrite of a path its own plan is reading
    import spark.implicits._
    Seq.empty[Long].toDF("vec_id")
      .write.mode("overwrite").parquet(s"$path/tombstones")
    fs.delete(staging, true) // commit marker: gone ⇒ rebuild complete
  }

  /** The IVF-PQ SERVING layout: [[buildIvf]]'s cell partitioning
    * plus a PQ code column stored NEXT TO the raw vector. The probe
    * then gets both prunings physically: partition pruning skips
    * unprobed cells' files, and column pruning makes the candidate
    * scan read ONLY (vec_id, codes) — m·4 bytes a vector, never the
    * dim·4-byte embedding (spec-asserted on the scan's ReadSchema).
    * The exact rerank re-reads embeddings for candidate ids alone.
    * Same deterministic single-sample training as
    * [[Similarity.ivfPqTopK]], so probe results match the in-memory
    * operator row-for-row (spec-held).
    */
  def buildIvfPq(corpus: DataFrame, path: String, nlist: Int = 16,
                 m: Int = 8, nCodes: Int = 16, dim: Int = 64,
                 knownN: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = Similarity.pickCentroids(corpus, math.max(nlist, nCodes),
      knownN)
    val cents = sample.take(nlist)
    val cbs = Similarity.codebooksFromSample(sample.take(nCodes), m, dim)
    // three independent writes once the model is on the driver —
    // concurrent submission (see [[buildIvf]])
    graft.SharedArtifacts.concurrently(spark)(
      () => cents.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq
        .toDF("cell", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
      }.toSeq
        .toDF("subspace", "code", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/codebooks"),
      () => corpus
        .select(col("vec_id"), col("embedding"),
          gf.pqEncode(col("embedding"), cbs).as("codes"),
          gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors"))
  }

  /** [[appendIvf]] for the IVF-PQ layout: the delta batch is encoded
    * with the index's STORED codebooks and assigned to its STORED
    * centroids, then appended as cell partitions — one delta scan, no
    * retrain, no history rewrite. Quantization drift compounds the
    * cell-balance drift here: codebooks trained on yesterday's
    * distribution encode tomorrow's vectors with growing
    * reconstruction error, so the rebuild trigger is recall (the
    * [[graft.RecallFloors]] gate) as much as cell balance. */
  def appendIvfPq(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    val cents = loadCentroids(spark, path)
    val cbs = loadCodebooks(spark, path)
    newVectors
      .select(col("vec_id"), col("embedding"),
        gf.pqEncode(col("embedding"), cbs).as("codes"),
        gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** The persisted codebooks back in [[graft.functions.gf.pqCosine]]
    * shape — m·nCodes·subDim floats, driver/broadcast-sized. */
  def loadCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    cachedModel(spark, s"$path/codebooks") {
      spark.read.parquet(s"$path/codebooks")
        .orderBy("subspace", "code")
        .collect()
        .groupBy(_.getInt(0)).toArray.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray))
    }

  /** IVF-PQ probe against the persisted layout: candidate scoring
    * reads codes only (pruned to probed cells), the top k·rerank
    * re-score exactly from a second candidates-only read. With
    * `maskDeletes` the tombstone log masks the code-scan candidates
    * (the [[probeIvf]] delete semantics on the PQ layout — a
    * tombstoned id never scores, so it never reaches the rerank
    * either). */
  def probeIvfPq(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int = 10, nprobe: Int = 4, rerank: Int = 4,
                 maskDeletes: Boolean = false): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val cbs = loadCodebooks(spark, path)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val probed = q.select(col("query_id"), col("q_emb"),
      explode(gf.nearestCentroids(col("q_emb"), centroids, nprobe)).as("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    val dead = if (maskDeletes) Some(broadcast(tombstones(spark, path)))
      else None
    def prunedScan(cols: Seq[String]) = {
      val raw = spark.read.parquet(s"$path/vectors")
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      dead.fold(raw)(d => raw.join(d, Seq("vec_id"), "left_anti"))
        .select(col("vec_id").as("neighbor_id") +: cols.map(col): _*)
    }
    val approx = Similarity.topKPerQuery(
      // the hint sits on the join it steers: on `probed` itself it
      // would also ride the join-less cell collect above, which
      // Spark's HintErrorLogger reports as an unused hint
      broadcast(probed).join(prunedScan(Seq("codes", "cell")), Seq("cell"))
        .transform(Similarity.scoredPairs(gf.pqCosine(col("q_emb"), col("codes"), cbs))),
      k * rerank)
    val exact = broadcast(approx.select("query_id", "neighbor_id"))
      .join(prunedScan(Seq("embedding")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("embedding")).as("cosine"))
    Similarity.topKPerQuery(exact, k)
  }
}
