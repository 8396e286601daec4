package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Similarity}
import graft.sources.Tables

/** Persisted-IVF-index specs: round-trip parity with the in-memory
  * search and physical partition pruning at probe time.
  */
class AnnIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("persisted probe matches the in-memory IVF search exactly") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    val persisted = AnnIndex.probeIvf(spark, s"$base/ivf", queries)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMemory = Similarity.ivfTopK(corpus, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(persisted == inMemory)
    assert(persisted.nonEmpty)
  }

  test("incremental append: probe after append equals a union-corpus build") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val (day1, day2) = (corpus.filter(col("vec_id") % 2 === 0),
      corpus.filter(col("vec_id") % 2 =!= 0))
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    // build on day-1 data, append day-2 WITHOUT retraining — the
    // daily-ingest shape; history partitions are never rewritten
    AnnIndex.buildIvf(day1, s"$base/ivf")
    AnnIndex.appendIvf(day2, s"$base/ivf")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries))
    // parity: identical to the in-memory search over the UNION corpus
    // with the index's stored (fixed) centroids
    val cents = AnnIndex.loadCentroids(spark, s"$base/ivf")
    assert(probed == pairs(Similarity.ivfSearch(corpus, queries, 10, cents, 4)))
    // the appended batch is really searchable (odd ids appear)
    assert(probed.exists { case (_, n) => n % 2 != 0 },
      "day-2 vectors must be reachable after append")
  }

  test("IVF-PQ incremental append: probe equals union build at fixed model") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val (day1, day2) = (corpus.filter(col("vec_id") % 2 === 0),
      corpus.filter(col("vec_id") % 2 =!= 0))
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    // model state (centroids AND codebooks) comes from day 1 only;
    // day 2 is encoded with the STORED model and appended
    AnnIndex.buildIvfPq(day1, s"$base/ivfpq")
    AnnIndex.appendIvfPq(day2, s"$base/ivfpq")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = pairs(AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries))
    val cents = AnnIndex.loadCentroids(spark, s"$base/ivfpq")
    val cbs = AnnIndex.loadCodebooks(spark, s"$base/ivfpq")
    assert(probed == pairs(
      Similarity.ivfPqTopKWith(corpus, queries, cents, cbs)))
    assert(probed.exists { case (_, n) => n % 2 != 0 },
      "day-2 vectors must be reachable after append")
  }

  test("delete lifecycle: masked probe = survivors-only build = probe after compact") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val deadPred = col("vec_id") % 7 === 3
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    AnnIndex.deleteIvf(corpus.filter(deadPred).select("vec_id"), s"$base/ivf")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val masked = pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries,
      maskDeletes = true))
    // 1. deleted ids never surface
    assert(masked.forall { case (_, n) => n % 7 != 3 },
      "a tombstoned id surfaced from the masked probe")
    // 2. masked probe ≡ probing an index built on survivors only, at
    //    the same (full-pick) centroids — per-vector assignment makes
    //    probe-time masking and survivor-only assignment coincide
    val cents = AnnIndex.loadCentroids(spark, s"$base/ivf")
    assert(masked == pairs(Similarity.ivfSearch(
      corpus.filter(!deadPred), queries, 10, cents, 4)))
    // 3. the plan flags exactly the cells above the dead-frac cut,
    //    and apply rewrites exactly those
    val plan = AnnIndex.compactPlanIvf(spark, s"$base/ivf")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    val flagged = plan.filter(_._2._3).keySet
    assert(flagged.nonEmpty && flagged.size < plan.size,
      s"threshold must split the cells: $plan")
    assert(AnnIndex.compactApplyIvf(spark, s"$base/ivf") == flagged.size)
    // 4. rewritten cells physically hold no dead rows; the log
    //    shrank to untouched cells' dead ids only
    val vecs = spark.read.parquet(s"$base/ivf/vectors")
    assert(vecs.filter(col("cell")
        .isin(flagged.toSeq.map(Integer.valueOf): _*))
      .filter(deadPred).count() == 0, "dead rows survived the rewrite")
    val log = AnnIndex.tombstones(spark, s"$base/ivf")
      .collect().map(_.getLong(0)).toSet
    val untouchedDead = vecs.filter(!col("cell")
        .isin(flagged.toSeq.map(Integer.valueOf): _*))
      .filter(deadPred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(log == untouchedDead,
      s"log must shrink to untouched cells' dead ids: ${log.size} vs ${untouchedDead.size}")
    // 5. probe parity across the rewrite: compaction never changes answers
    assert(pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries,
      maskDeletes = true)) == masked)
    // 6. post-compact plan flags nothing at the same threshold
    assert(AnnIndex.compactPlanIvf(spark, s"$base/ivf")
      .filter(col("rewrite")).count() == 0)
  }

  test("IVF-PQ delete lifecycle: masked probe = survivors-only search, compact keeps parity") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val deadPred = col("vec_id") % 7 === 3
    AnnIndex.buildIvfPq(corpus, s"$base/ivfpq", m = 16, nCodes = 32)
    AnnIndex.deleteIvf(corpus.filter(deadPred).select("vec_id"),
      s"$base/ivfpq")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val masked = pairs(AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries,
      nprobe = 12, rerank = 16, maskDeletes = true))
    assert(masked.forall { case (_, n) => n % 7 != 3 },
      "a tombstoned id surfaced from the masked PQ probe")
    // ≡ the in-memory search over survivors at the index's model
    val cents = AnnIndex.loadCentroids(spark, s"$base/ivfpq")
    val cbs = AnnIndex.loadCodebooks(spark, s"$base/ivfpq")
    assert(masked == pairs(Similarity.ivfPqTopKWith(
      corpus.filter(!deadPred), queries, cents, cbs,
      nprobe = 12, rerank = 16)))
    // compaction on the PQ layout (codes ride the rewrite) keeps
    // probe parity and physically removes flagged cells' dead rows
    val n = AnnIndex.compactApplyIvf(spark, s"$base/ivfpq")
    assert(n > 0, "the threshold must flag at least one cell here")
    assert(pairs(AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries,
      nprobe = 12, rerank = 16, maskDeletes = true)) == masked)
  }

  test("delete lifecycle invariants hold on RANDOM tombstone sets (property)") {
    // randomized delete fractions and compact thresholds: the
    // fixed-predicate test can't stress empty-flag, all-flag, or
    // boundary cells. Invariants per round: masked probe ==
    // survivors-only search; apply rewrites exactly the plan's
    // flags; rewritten cells hold no dead rows; the log shrinks to
    // untouched cells' dead ids; probe parity across the rewrite.
    val rnd = new scala.util.Random(20260815L)
    val corpus = Tables.embeddings(spark, dir).localCheckpoint(true)
    val ids = corpus.select("vec_id").collect().map(_.getLong(0))
    for (round <- 1 to 3) {
      val base = Files.createTempDirectory(s"graft_ann_p$round").toString
      val frac = 0.05 + rnd.nextDouble() * 0.4
      val dead = ids.filter(_ => rnd.nextDouble() < frac).toSet
      val thr = 0.05 + rnd.nextDouble() * 0.3
      AnnIndex.buildIvf(corpus, s"$base/ivf")
      import spark.implicits._
      AnnIndex.deleteIvf(dead.toSeq.toDF("vec_id"), s"$base/ivf")
      val queries = corpus.filter(col("vec_id") % 50 === 0)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val masked = pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries,
        maskDeletes = true))
      assert(masked.forall { case (_, n) => !dead.contains(n) },
        s"round $round (frac=$frac): tombstoned id surfaced")
      val cents = AnnIndex.loadCentroids(spark, s"$base/ivf")
      val survivors = corpus.filter(!col("vec_id")
        .isin(dead.toSeq.map(java.lang.Long.valueOf): _*))
      assert(masked == pairs(Similarity.ivfSearch(survivors, queries, 10,
        cents, 4)), s"round $round: masked != survivor search")
      val flagged = AnnIndex.compactPlanIvf(spark, s"$base/ivf", thr)
        .filter(col("rewrite")).select("cell")
        .collect().map(_.getInt(0)).toSet
      assert(AnnIndex.compactApplyIvf(spark, s"$base/ivf", thr)
        == flagged.size, s"round $round: apply != plan flags")
      if (flagged.nonEmpty) {
        val vecs = spark.read.parquet(s"$base/ivf/vectors")
        assert(vecs.filter(col("cell")
            .isin(flagged.toSeq.map(Integer.valueOf): _*))
          .collect().forall(r => !dead.contains(r.getAs[Long]("vec_id"))),
          s"round $round: dead rows survived the rewrite")
        val log = AnnIndex.tombstones(spark, s"$base/ivf")
          .collect().map(_.getLong(0)).toSet
        val untouchedDead = vecs.filter(!col("cell")
            .isin(flagged.toSeq.map(Integer.valueOf): _*))
          .collect().map(_.getAs[Long]("vec_id")).filter(dead).toSet
        assert(log == untouchedDead, s"round $round: log mismatch")
      }
      assert(pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries,
        maskDeletes = true)) == masked,
        s"round $round: compaction changed probe answers")
    }
  }

  test("delete probe holds the survivor recall floor at the driver point") {
    // recall@10 vs exact brute force over the SURVIVOR corpus
    // (RecallFloors.macroRecall) — measured ≥ the plain
    // IVF tier's floor (identical pick, nprobe=12, ~14% of
    // candidates masked)
    val sf01 = "/root/testdata/sf0.01"
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, sf01)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val deadPred = col("vec_id") % 7 === 3
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    AnnIndex.deleteIvf(corpus.filter(deadPred).select("vec_id"), s"$base/ivf")
    val exact = RecallFloors.neighborSets(Similarity.bruteForceTopK(
      corpus.filter(!deadPred), queries))
    val got = RecallFloors.neighborSets(AnnIndex.probeIvf(spark,
      s"$base/ivf", queries, nprobe = 12, maskDeletes = true))
    val recall = RecallFloors.macroRecall(got, exact)
    assert(recall >= 0.88, f"survivor recall $recall%.3f under the 0.88 floor")
  }

  test("probing opens only the probed cells' files") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    // a single query probes nprobe=2 of 16 cells
    val one = corpus.filter(col("vec_id") === 0)
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    val all = spark.read.parquet(s"$base/ivf/vectors")
    all.collect()
    val totalFiles = all.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    val probed = AnnIndex.probeIvf(spark, s"$base/ivf", one, k = 5, nprobe = 2)
    probed.collect()
    // AQE hides file scans inside query stages — walk into them
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case r: ReusedExchangeExec => scansOf(r.child)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(probed.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "cell"))
    assert(scans.nonEmpty, "expected a file scan over the vectors table")
    val readFiles = scans.map(_.metrics("numFiles").value).sum
    assert(readFiles > 0 && readFiles * 4 <= totalFiles,
      s"probe read $readFiles of $totalFiles files — no pruning")
  }

  test("persisted IVF-PQ probe matches in-memory; code scan skips embeddings") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    AnnIndex.buildIvfPq(corpus, s"$base/ivfpq")
    val probe = AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries)
    val persisted = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical deterministic training → row-for-row parity with the
    // in-memory composed operator
    val inMemory = Similarity.ivfPqTopK(corpus, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(persisted == inMemory)
    assert(persisted.nonEmpty)
    // the bandwidth claim made physical: the candidate-scoring scan's
    // ReadSchema carries codes but NOT the embedding column
    val p = probe.queryExecution.executedPlan.toString
    val codeScan = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("codes"))
      .mkString("\n")
    assert(codeScan.nonEmpty, s"expected a codes-only scan:\n$p")
    assert(!codeScan.contains("embedding"),
      s"candidate scan must not read embeddings:\n$codeScan")
  }

  test("IVF-PQ probe: its broadcast hint sits on a join, so Spark logs " +
    "no unused-hint warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    AnnIndex.buildIvfPq(corpus, s"$base/ivfpq")
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      // the capture works: a hint outside any join is reported
      broadcast(queries.select("vec_id")).distinct().collect()
      assert(!warned.isEmpty, "the appender must see HintErrorLogger warnings")
      warned.clear()
      AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries).collect()
      AnnIndex.probeIvfPq(spark, s"$base/ivfpq", queries, maskDeletes = true)
        .collect()
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    assert(warned.isEmpty, s"unused hint warnings: ${warned.toArray.mkString("; ")}")
  }

  test("rebuild: retrained centroids consume the tombstones, reset the " +
    "log, improve assignment quality, and hold the survivor recall floor") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val deadPred = col("vec_id") % 7 === 3
    AnnIndex.buildIvf(corpus, s"$base/ivf") // iters=0 pick — drift-prone
    AnnIndex.deleteIvf(corpus.filter(deadPred).select("vec_id"),
      s"$base/ivf")
    // assignment quality = the k-means objective retraining exists
    // to improve: mean cosine of each stored vector to its own cell's
    // centroid (survivor rows only, so pre and post measure the same
    // population). Occupancy balance is NOT asserted — k-means
    // optimizes quantization error, and tighter cells can
    // legitimately be less even; the health table's balance dial is
    // a probe-cost alarm, not the retrain objective.
    def meanAssignCos(survivorsOnly: Boolean): Double = {
      import spark.implicits._
      val cdf = AnnIndex.loadCentroids(spark, s"$base/ivf").zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
      spark.read.parquet(s"$base/ivf/vectors")
        .filter(if (survivorsOnly) !deadPred else lit(true))
        .join(broadcast(cdf), "cell")
        .select(graft.functions.gf.cosineSim(col("embedding"),
          col("centroid")).as("cos"))
        .agg(avg("cos")).first().getDouble(0)
    }
    val pre = meanAssignCos(survivorsOnly = true)
    AnnIndex.rebuildIvf(spark, s"$base/ivf", iters = 2)
    // 1. deleted ids are physically gone from the new layout
    assert(spark.read.parquet(s"$base/ivf/vectors")
      .filter(deadPred).count() === 0L)
    // 2. the tombstone log is reset (consumed tombstones must not
    //    mask a future re-insert of the same id)
    assert(AnnIndex.tombstones(spark, s"$base/ivf").count() === 0L)
    // 3. retrained centroids describe the surviving data strictly
    //    better than the drifted pick they replace
    val post = meanAssignCos(survivorsOnly = false)
    assert(post > pre, s"rebuild must improve assignment: $pre -> $post")
    // 4. the survivor recall floor holds against brute force
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(AnnIndex.probeIvf(spark, s"$base/ivf", queries,
      k = 10, nprobe = 12))
    assert(got.forall { case (_, n) => n % 7 != 3 },
      "a consumed-delete id resurfaced after the rebuild")
    val exact = pairs(Similarity.bruteForceTopK(
      corpus.filter(!deadPred), queries, k = 10))
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-rebuild survivor recall $recall < 0.8")
    // 5. the staging dir is gone — its absence IS the commit marker
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging")),
      "completed rebuild must remove the staging survivors")
  }

  test("rtbfMlApply: the erased subject's vectors never score again — " +
    "tombstoned immediately, physically gone after rebuild") {
    import graft.operators.MlErasure
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    val reqDocs = docs.filter(col("doc_id") % 53 === 3)
    val reqVecs = corpus.filter(col("vec_id") % 53 === 3)
    val out = MlErasure.rtbfMlApply(reqDocs, reqVecs,
        graft.operators.DedupStore.fingerprintRows(docs),
        docs.select(col("doc_id"), explode(
          graft.functions.gf.winnowFingerprints(col("text"), 3, 4)).as("fp")),
        corpus.select("vec_id"), annPath = Some(s"$base/ivf"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // conservation per store, and the request really bites
    out.foreach { case (store, (before, removed, after)) =>
      assert(before === removed + after, s"$store conservation")
      assert(removed > 0, s"$store: the subject must own rows to erase") }
    // plan↔apply parity on the removal counts
    val plan = MlErasure.rtbfMlPlan(reqDocs, reqVecs,
        graft.operators.DedupStore.fingerprintRows(docs),
        docs.select(col("doc_id"), explode(
          graft.functions.gf.winnowFingerprints(col("text"), 3, 4)).as("fp")),
        corpus.select("vec_id"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(plan === out.map { case (k, v) => k -> v._2 },
      "apply must remove exactly what the plan counted")
    // the legal clock: probes exclude the subject IMMEDIATELY (the
    // tombstone mask), before any physical rewrite
    val queries = corpus.filter(col("vec_id") % 100 === 0)
    val probed = AnnIndex.probeIvf(spark, s"$base/ivf", queries,
      k = 10, nprobe = 16, maskDeletes = true).collect().map(_.getLong(1))
    assert(probed.nonEmpty && probed.forall(_ % 53 != 3),
      "an erased vector scored from the tombstoned index")
    // and physically gone once the rebuild consumes the tombstones
    AnnIndex.rebuildIvf(spark, s"$base/ivf", iters = 1)
    assert(spark.read.parquet(s"$base/ivf/vectors")
      .filter(col("vec_id") % 53 === 3).count() === 0L,
      "the rebuild must remove the erased bytes")
  }

  test("rebuild crash recovery: a present staging dir is resumed from — " +
    "the half-rewritten live layout is never trusted") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    // simulate a rebuild that crashed mid-overwrite: the durable
    // staging survivors exist (here: only vec_id % 2 = 0 — content
    // DIFFERENT from the live vectors dir, so resuming from the
    // live dir instead would be caught), and the live layout is in
    // an arbitrary half-rewritten state
    corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$base/ivf/vectors.staging")
    // a delete lands BETWEEN the crash and the retry (e.g. an RTBF
    // erasure): the resume must NOT resurrect it from the stale
    // staged survivors — the one crash window where "replay the
    // staging" and "honour the log" differ
    import spark.implicits._
    val postCrashDeleted = corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id").limit(3).collect().map(_.getLong(0)).toSet
    AnnIndex.deleteIvf(
      postCrashDeleted.toSeq.toDF("vec_id"), s"$base/ivf")
    AnnIndex.rebuildIvf(spark, s"$base/ivf", iters = 1)
    val ids = spark.read.parquet(s"$base/ivf/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet -- postCrashDeleted
    assert(ids === want,
      "resumed rebuild must lay out the STAGED survivors minus every " +
        "post-staging delete")
    assert(AnnIndex.tombstones(spark, s"$base/ivf").count() === 0L,
      "resumed rebuild still resets the log")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging")),
      "resumed rebuild must clean up the staging marker")
  }

  test("rebuild crash recovery: a committed staging with only the " +
    "operator's own marker (_SUCCESS disabled) is still resumed from") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    // a deployment with marksuccessfuljobs=false: the staging job
    // committed (content complete — here even ids only, DIFFERENT
    // from live so re-staging would be caught) but Spark wrote no
    // _SUCCESS; the operator's own _GRAFT_STAGED marker must carry
    // the resume decision alone
    corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$base/ivf/vectors.staging")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging/_SUCCESS"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging/_GRAFT_STAGED"))
    AnnIndex.rebuildIvf(spark, s"$base/ivf", iters = 1)
    val ids = spark.read.parquet(s"$base/ivf/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === want,
      "a staging committed under marksuccessfuljobs=false must be " +
        "resumed from via the operator's own marker, never re-staged")
  }

  test("rebuild crash recovery: a PARTIAL staging dir (no _SUCCESS) is " +
    "re-staged from the intact live vectors, never trusted") {
    val base = Files.createTempDirectory("graft_ann").toString
    val corpus = Tables.embeddings(spark, dir)
    AnnIndex.buildIvf(corpus, s"$base/ivf")
    // simulate a crash MID-staging-write: Spark creates the output
    // dir at job start, so the dir exists with partial content (here
    // deliberately WRONG — odd ids only, so resuming from it would
    // be caught) but no _SUCCESS commit marker; the live vectors are
    // still intact because buildIvf never ran
    corpus.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$base/ivf/vectors.staging")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging/_SUCCESS"))
    AnnIndex.rebuildIvf(spark, s"$base/ivf", iters = 1)
    val ids = spark.read.parquet(s"$base/ivf/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === want,
      "an uncommitted staging dir must be discarded and re-staged " +
        "from the live vectors — trusting the partial set loses data")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/ivf/vectors.staging")),
      "re-staged rebuild must clean up the staging marker")
  }

  test("directory stamp does not depend on listing order") {
    import org.apache.hadoop.fs.{FileStatus, Path}
    def st(name: String, len: Long, mtime: Long) =
      new FileStatus(len, false, 1, 1L, mtime, new Path(s"/idx/centroids/$name"))
    val files = Seq(st("_SUCCESS", 0L, 10L), st("part-0.parquet", 812L, 11L),
      st("part-1.parquet", 640L, 12L))
    val stamp = SharedArtifacts.stampOf(files)
    assert(SharedArtifacts.stampOf(files.reverse) === stamp)
    assert(SharedArtifacts.stampOf(Seq(files(1), files(2), files(0))) === stamp)
    assert(SharedArtifacts.stampOf(files.updated(1, st("part-0.parquet", 812L, 99L))) !== stamp,
      "a rewritten file must change the stamp")
  }

  test("annindex model memo: append hits the memo, in-place model rewrite misses it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ann_memo").toString
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(emb, dir, nlist = 4)
    val first = AnnIndex.loadCentroids(spark, dir)
    // memo hit: same files, same array INSTANCE back
    assert(AnnIndex.loadCentroids(spark, dir) eq first)
    // append touches only vectors/ — the model memo must stay valid
    AnnIndex.appendIvf(
      (100L until 110L).map(i =>
        (i, Array.tabulate(8)(d => ((i * 3 + d) % 11).toFloat)))
        .toDF("vec_id", "embedding"), dir)
    assert(AnnIndex.loadCentroids(spark, dir) eq first)
    // in-place rebuild on a DIFFERENT corpus rewrites centroids —
    // the directory stamp changes and the memo must reload
    val emb2 = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 2) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(emb2, dir, nlist = 4)
    val second = AnnIndex.loadCentroids(spark, dir)
    assert(!(second eq first))
    assert(!second.zip(first).forall { case (a, b) => a.sameElements(b) })
  }
}
