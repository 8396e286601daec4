package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for train/validation/test — the
  * last step of a training-data pipeline.
  *
  * The split is a pure function of (id, seed): stable across runs,
  * partitionings, and cluster sizes, so a document lands in the same
  * split forever — the property that matters for contamination
  * control. No sampling state, no shuffle; just a hash projection.
  */
object DataSplit {

  /** Split weights must be non-empty, non-negative and sum to 1. */
  private def requireWeights(weights: Seq[(String, Double)]): Unit = {
    require(weights.nonEmpty, "need at least one split")
    require(weights.forall(_._2 >= 0), s"weights must be non-negative: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}")
  }

  /** Assign each row a split label by hashing `idCol` into [0,1) and
    * cutting at the cumulative weights.
    *
    * {{{
    *   DataSplit.assign(docs, "doc_id",
    *     Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    * }}}
    */
  def assign(df: DataFrame, idCol: String,
             weights: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    requireWeights(weights)
    // xxhash64 → [0,1): shift to 53 usable mantissa bits
    val u = (shiftrightunsigned(xxhash64(col(idCol), lit(seed)), 11)
      .cast("double") / lit((1L << 53).toDouble))
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val label = weights.zip(cuts).foldRight(lit(weights.last._1)) {
      case (((name, _), cut), fallback) => when(u < cut, name).otherwise(fallback)
    }
    df.withColumn("split", label)
  }

  /** [[assign]] on the portable `md5(id:salt)` key ([[Sampling]]'s
    * sampling hash) instead of xxhash64: ~4× more hash work per row,
    * but the assignment replays bit-for-bit in any engine with md5 —
    * so the split decision itself is oracle-checkable and survives a
    * migration off Spark. Cut points are the cumulative-weight hex
    * thresholds; comparison is plain string order on lowercase hex.
    */
  def assignPortable(df: DataFrame, idCol: String,
                     weights: Seq[(String, Double)],
                     salt: String = "split42"): DataFrame = {
    requireWeights(weights)
    val key = Sampling.sampleKey(col(idCol), salt)
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    // a cut of 1.0 maps to "g" (> every hex key): otherwise the
    // "ffffffff" key tail would fall past a full-weight split into
    // whatever zero-weight splits trail it
    val label = weights.zip(cuts).foldRight(lit(weights.last._1)) {
      case (((name, _), cut), fallback) =>
        when(key < lit(Sampling.thresholdLit(cut)), name).otherwise(fallback)
    }
    df.withColumn("split", label)
  }

  /** Group-level split: every row of a GROUP (a source, a domain, a
    * crawl) lands in the same split, assigned by the portable
    * salted-md5 key of the group value — the leakage-proof split for
    * training data, where [[assignPortable]]'s per-doc hash would
    * happily put two near-duplicate docs from the same source on
    * opposite sides of the train/test fence (the classic eval
    * contamination [[temporalSplitAudit]] measures on the time
    * axis, here closed on the provenance axis). Weights apply to
    * GROUPS, not rows — a heavy group drags its whole mass with it,
    * which is the point; pair with [[stratifiedSplit]] when
    * row-exact proportions matter more than group integrity.
    * Scale: the assignment computes on the distinct group relation
    * (O(groups)) and broadcast-joins back — rows never shuffle.
    */
  def groupAssign(df: DataFrame, groupCol: String,
                  weights: Seq[(String, Double)],
                  salt: String = "gsplit42"): DataFrame = {
    val groups = assignPortable(df.select(col(groupCol)).distinct(),
      groupCol, weights, salt)
    df.join(broadcast(groups), Seq(groupCol))
  }

  /** Cross-split near-dup leakage audit — the measurement that
    * motivates [[groupAssign]]: after a per-doc hash split, how many
    * verified near-duplicate pairs STRADDLE the train/test fence?
    * Every straddling pair is a leaked eval answer (the test doc's
    * near-twin was trained on), and this emits the count per split
    * pair — within-split pairs included as the baseline mass, so
    * `share` says what fraction of the corpus's duplication sits on
    * each edge. `pairs` is any verified (id_a, id_b) relation — the
    * deterministic blocked-Jaccard source in the driver key, so the
    * whole audit is oracle-checked end to end. Pair labels join on
    * ids only (payloads never move); output is O(splits²).
    */
  def splitLeakage(docs: DataFrame, pairs: DataFrame,
                   weights: Seq[(String, Double)],
                   salt: String = "split42"): DataFrame = {
    val assign = assignPortable(docs.select(col("doc_id")), "doc_id",
      weights, salt)
    val byPair = pairs
      .join(assign.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), Seq("id_a"))
      .join(assign.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), Seq("id_b"))
      .select(least(col("split_a"), col("split_b")).as("sa"),
        greatest(col("split_a"), col("split_b")).as("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_pairs"))
    byPair.crossJoin(broadcast(byPair.agg(sum("n_pairs").as("total"))))
      .select(col("sa").as("split_a"), col("sb").as("split_b"),
        col("n_pairs"), (col("sa") =!= col("sb")).as("cross_split"),
        round(col("n_pairs").cast("double") / col("total").cast("double"), 6)
          .as("share"))
  }

  /** Stratified split — EXACT per-stratum proportions, where
    * [[assign]]/[[assignPortable]] are only proportional in
    * expectation: a hash split of a 300-doc source at 90/5/5 can
    * hand val 4 docs or 8, and for small strata (a rare language, a
    * curated source) that variance is the difference between "has a
    * validation set" and not. Docs rank within their stratum by the
    * portable salted-md5 key (pseudo-random, replayable in any
    * engine) and the cumulative-weight cuts apply to the RANK:
    * split i gets `floor(cum_i·n) − floor(cum_{i−1}·n)` docs of an
    * n-doc stratum — exact to ±1 doc, deterministic. Cost: one hash
    * aggregate for stratum sizes (broadcast back) and one
    * rank window partitioned BY STRATUM — the partition-bounded
    * window class, no global sort. The md5 rank is uncorrelated
    * with any data column, so each split is itself an unbiased
    * sample of its stratum.
    */
  def stratifiedSplit(df: DataFrame, idCol: String, strataCol: String,
                      weights: Seq[(String, Double)],
                      salt: String = "strat42"): DataFrame = {
    requireWeights(weights)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(Sampling.sampleKey(col(idCol), salt), col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    val cuts = weights.scanLeft(0.0) { case (acc, (_, wt)) => acc + wt }.tail
    // the last cut is exactly 1.0 → floor(n) = n catches every rank
    val label = weights.zip(cuts).foldRight(lit(weights.last._1)) {
      case (((name, _), cut), fallback) =>
        when(col("rk") <= floor(lit(cut) * col("n_stratum")), name)
          .otherwise(fallback)
    }
    df.select(col(idCol), col(strataCol))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_stratum", count(lit(1)).over(wAll))
      .withColumn("split", label)
      .select(col(idCol), col(strataCol), col("split"))
  }

  /** Temporal split with a LEAKAGE audit — the time-series ML split
    * done honestly: rows at or before the cutoff train, rows after
    * test, and the audit counts the ENTITIES (users) that appear on
    * BOTH sides — exactly the population through which a model
    * memorizes the future (user-level leakage survives a clean
    * row-level time split, which is why random row splits on
    * temporal data overfit silently). Output is one row per side:
    * rows, distinct entities, leaky entities (on both sides), and
    * the leaky-entity fraction. The audit is one entity-grain
    * aggregate (min/max event time per entity — partial-agg
    * friendly) joined back at entity grain; no row ever crosses
    * with another row.
    */
  def temporalSplitAudit(events: DataFrame, tsCol: String,
                         entityCol: String,
                         cutoff: String): DataFrame = {
    // cast the literal to the column's own type: events carry
    // timestamp_ntz, and an ltz literal would not compare
    val side = when(col(tsCol) <=
      lit(cutoff).cast(events.schema(tsCol).dataType), "train")
      .otherwise("test")
    val perEntity = events
      .groupBy(col(entityCol).as("e"))
      .agg(
        sum(when(side === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(side === "test", 1L).otherwise(0L)).as("n_test"))
      .withColumn("leaky", col("n_train") > 0 && col("n_test") > 0)
      .localCheckpoint(true) // both side aggregates consume it
    Seq("train", "test").map { s =>
      val present = col(s"n_$s") > 0
      perEntity.agg(
        coalesce(sum(s"n_$s"), lit(0L)).as("n_rows"),
        sum(when(present, 1L).otherwise(0L)).as("n_entities"),
        sum(when(present && col("leaky"), 1L).otherwise(0L))
          .as("n_leaky_entities"))
        .select(
          lit(s).as("split"),
          col("n_rows"), col("n_entities"), col("n_leaky_entities"),
          round(col("n_leaky_entities") / col("n_entities"), 6)
            .as("leaky_frac"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic training-order shuffle + sharding: every doc gets
    * a portable md5 shuffle key (salted — a new salt IS the next
    * epoch's reshuffle), a shard from equal hex-range cuts of that
    * key (uniform by md5's uniformity, no conversion arithmetic —
    * pure string compares, replayable in any engine), and its
    * position within the shard in key order. `pos_in_shard`
    * materializes exactly the order a shard writer lays down with
    * `repartition(shard).sortWithinPartitions(key)` — one balanced
    * shuffle, per-shard parallel sort, no global ordering anywhere.
    * SGD-shuffle quality note: the order is pseudo-random in doc_id
    * (md5 avalanche), uncorrelated with any data column.
    */
  def shuffleShards(df: DataFrame, idCol: String = "doc_id",
                    nShards: Int = 8, salt: String = "epoch0"): DataFrame = {
    require(nShards >= 1, s"need at least one shard, got $nShards")
    val cuts = (1 to nShards).map(i => i.toDouble / nShards)
    // shard compares against the MATERIALIZED key column — folding
    // over the md5 expression itself would re-hash per threshold
    val shard = (0 until nShards).zip(cuts)
      .foldRight(lit((nShards - 1).toLong)) { case ((i, cut), fallback) =>
        when(col("shuffle_key") < lit(Sampling.thresholdLit(cut)), i.toLong)
          .otherwise(fallback)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("shuffle_key"), col(idCol))
    df.select(col(idCol), Sampling.sampleKey(col(idCol), salt).as("shuffle_key"))
      .withColumn("shard", shard)
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos_in_shard"), col("shuffle_key"))
  }

  /** Deterministic source-INTERLEAVED training order: strict
    * round-robin across sources (doc i of source s lands at global
    * position `(i-1)·n_sources + src_idx`), so a training loader
    * streaming in `interleave_pos` order sees every source at its
    * corpus rate with no long same-source runs — the curriculum
    * complement to [[shuffleShards]]'s pseudo-random order. The
    * per-source rank is NOT one global window: doc_ids band into
    * `bandWidth` buckets, per-(source, band) counts roll into
    * exclusive offsets via a window over the BAND-grain relation
    * (O(bands) rows), and within-band `row_number` runs in parallel
    * across (source, band) partitions — the banded two-phase prefix
    * idiom ([[Packing]], `q_pareto_revenue`), no single-task sort.
    * All arithmetic is integer-exact.
    */
  def interleaveOrder(df: DataFrame, idCol: String = "doc_id",
                      sourceCol: String = "source",
                      bandWidth: Long = 4096L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), col(sourceCol).as("source"))
      .withColumn("band", floor(col(idCol) / bandWidth).cast("long"))
    val counts = base.groupBy("source", "band").agg(count(lit(1)).as("cnt"))
    val byBand = w.partitionBy("source").orderBy("band")
      .rowsBetween(w.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum("cnt").over(byBand), lit(0L)))
      .drop("cnt")
    // source index + count over the O(sources) distinct-source frame
    val allRows = w.partitionBy(lit(1))
      .rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val srcIdx = counts.select("source").distinct()
      .withColumn("src_idx",
        row_number().over(w.partitionBy(lit(1)).orderBy("source")).cast("long") - 1L)
      .withColumn("n_sources", count(lit(1)).over(allRows))
    val inBand = w.partitionBy("source", "band").orderBy(idCol)
    base
      .join(broadcast(offsets), Seq("source", "band"))
      .withColumn("rank_in_source",
        col("off") + row_number().over(inBand).cast("long"))
      .join(broadcast(srcIdx), Seq("source"))
      .select(col(idCol), col("source"), col("rank_in_source"),
        ((col("rank_in_source") - 1L) * col("n_sources") + col("src_idx"))
          .as("interleave_pos"))
  }

  /** Deterministic K-FOLD assignment for cross-validation: fold =
    * equal hex-range cut of the portable md5 key (uniform by md5's
    * uniformity; pure string compares, no integer conversion — the
    * same discipline as [[shuffleShards]]). Stateless per-row filter
    * work at any scale; a doc's fold never changes unless the salt
    * does, so fold-holdout runs are reproducible across engines and
    * cluster sizes.
    */
  def kfold(df: DataFrame, idCol: String = "doc_id", k: Int = 5,
            salt: String = "cv42"): DataFrame = {
    require(k >= 2, s"need at least two folds, got $k")
    val cuts = (1 to k).map(i => i.toDouble / k)
    val fold = (0 until k).zip(cuts)
      .foldRight(lit((k - 1).toLong)) { case ((i, cut), fallback) =>
        when(col("cv_key") < lit(Sampling.thresholdLit(cut)), i.toLong)
          .otherwise(fallback)
      }
    df.withColumn("cv_key", Sampling.sampleKey(col(idCol), salt))
      .withColumn("fold", fold)
      .drop("cv_key")
  }
}
