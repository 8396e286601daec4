package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-lake layout utilities — the physical-design levers that
  * decide whether a 100 TB join shuffles or not.
  *
  *  - [[writeBucketed]]: hash-bucketed + sorted table. Two tables
  *    bucketed by the same key into the same bucket count join with
  *    NO exchange (and with sortBy, no sort either) — the shuffle is
  *    paid once at write time, amortized over every later join.
  *  - [[writePartitioned]]: directory-partitioned parquet; filters
  *    on partition columns prune entire directories at planning time
  *    (`PartitionFilters` in the scan, zero I/O for pruned values).
  *  - [[compact]]: rewrite a dataset into `numFiles` files — the
  *    small-files fix after streaming/incremental ingestion.
  *  - [[zorderValue]]/[[writeZordered]]: multi-dimension clustering.
  *    Range-partitioning by an interleaved-bit key co-locates rows
  *    that are close in EVERY clustered dimension, so parquet
  *    min/max row-group stats stay tight on all of them and
  *    selective filters on any dimension skip most files — the
  *    single-sort-key layout only ever prunes on its leading column.
  */
object Lake {

  /** Z-order (Morton) key of up to 4 non-negative long columns:
    * each value is quantized to `bitsPerDim` bits (caller scales
    * into [0, 2^bits) — e.g. `datediff` days, bucketed prices),
    * then bits interleave round-robin. Pure projection, codegen'd
    * arithmetic, no UDF.
    */
  def zorderValue(cols: Seq[Column], bitsPerDim: Int = 16): Column = {
    require(cols.nonEmpty && cols.size <= 4, "zorder supports 1..4 dims")
    require(bitsPerDim >= 1, s"bitsPerDim must be >= 1, got $bitsPerDim")
    require(bitsPerDim * cols.size <= 62,
      s"interleaved key must fit a long: $bitsPerDim bits × ${cols.size} dims > 62" +
        " (lower bitsPerDim — e.g. 4 dims need bitsPerDim <= 15)")
    val capped = cols.map(c =>
      least(greatest(c.cast("long"), lit(0L)), lit((1L << bitsPerDim) - 1)))
    (0 until bitsPerDim).flatMap { bit =>
      capped.zipWithIndex.map { case (c, dim) =>
        // bit `bit` of dim d lands at interleaved position bit*ndims+d
        shiftleft(shiftright(c, bit).bitwiseAND(lit(1L)),
          bit * cols.size + dim)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order layout PLAN over a fact table: per fixed-prefix file
    * bucket (the top `bucketBits` bits of the interleaved key), row
    * count and per-dimension min/max — the pruning-stat manifest a
    * z-ordered writer would ship, as a queryable relation. The
    * planning pass needs NO global sort: the z-key's fixed prefix IS
    * the range split (unlike `repartitionByRange`, which samples),
    * so bucket assignment is a pure codegen'd projection and the
    * manifest one tiny aggregate — the same plan at 100 TB. Input
    * dims must already be quantized to [0, 2^bitsPerDim); min/max
    * here are the stats a reader's pruning would consult, and their
    * per-bucket TIGHTNESS (span ≪ global range on every dim at
    * once) is exactly what z-ordering buys over a single-column
    * sort.
    */
  def zorderPlan(df: DataFrame, dimNames: Seq[String],
                 bitsPerDim: Int = 16, bucketBits: Int = 6): DataFrame =
    withFileBucket(df, dimNames, bitsPerDim, bucketBits)
      .groupBy("file_bucket")
      .agg(count(lit(1)).as("n_rows"), dimBounds(dimNames): _*)

  /** `df` with `file_bucket`: the top `bucketBits` bits of the rows'
    * z-order key over `dimNames`. */
  private def withFileBucket(df: DataFrame, dimNames: Seq[String],
                             bitsPerDim: Int, bucketBits: Int): DataFrame = {
    val width = bitsPerDim * dimNames.size
    require(bucketBits >= 1 && bucketBits <= width,
      s"bucketBits $bucketBits outside 1..$width")
    df.withColumn("file_bucket",
        shiftright(zorderValue(dimNames.map(col), bitsPerDim),
          width - bucketBits))
  }

  /** Per-dimension min/max pruning stats, `min_<dim>`, `max_<dim>`. */
  private def dimBounds(dimNames: Seq[String]): Seq[Column] =
    dimNames.flatMap(n => Seq(min(col(n)).as(s"min_$n"), max(col(n)).as(s"max_$n")))

  /** Small-file COMPACTION plan over a file manifest — the other
    * half of lakehouse layout maintenance beside [[zorderPlan]]
    * (streaming/incremental ingest leaves thousands of small files
    * per partition; scan cost then tracks file COUNT, not bytes):
    * given (part, file_id, bytes), assign files to target-size
    * output groups by the sorted prefix-sum rule — files ordered
    * bytes DESC then file_id within their partition, and the
    * cumulative bytes of the PRECEDING files integer-divided by
    * `targetBytes` is the bin. Deterministic, ONE window pass over
    * the manifest (file-count-sized, never the data), no driver
    * state — the same plan at 100 TB, where the manifest is the
    * table metadata a lakehouse already keeps. Optimal bin packing
    * is NP-hard; every production compactor ships a greedy rule,
    * and prefix-sum binning is the one that needs no sequential
    * state. Oversized files land alone in their own bin. Emits the
    * executable plan with its per-bin rollup:
    * (part, file_id, bytes, bin, bin_bytes, bin_files).
    */
  def compactionPlan(manifest: DataFrame,
                     targetBytes: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("part")
      .orderBy(col("bytes").desc, col("file_id"))
    val wb = Window.partitionBy("part", "bin")
    manifest
      .withColumn("cum_before",
        coalesce(sum(col("bytes")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"cum_before div ${targetBytes}L"))
      .withColumn("bin_bytes", sum("bytes").over(wb))
      .withColumn("bin_files", count(lit(1)).over(wb))
      .select("part", "file_id", "bytes", "bin", "bin_bytes", "bin_files")
  }

  /** EXECUTE [[compactionPlan]]'s bins — the apply half that turns
    * the planner from advice into a maintenance loop: each (part,
    * bin) group rewrites into ONE output file whose manifest row
    * carries the merged byte mass and the input-file count. The
    * rewrite is lossless at both grains by construction — every
    * input file lands in exactly one bin (the plan is a partition of
    * the manifest) and bytes are conserved (`sum(bytes)` per bin ==
    * the plan's `bin_bytes` window) — and `LakeSpec` proves it at
    * ROW grain too: data rows routed through the plan's (part,
    * file_id) → bin map keep identity exactly, and the
    * post-compaction manifest resets
    * [[graft.streaming.DocStream.compactionMonitorState]]'s
    * `compact_now` trigger. One aggregate over the plan relation
    * (file-count-sized, never the data); the actual data movement at
    * 100 TB is the per-bin file rewrite this manifest drives, block
    * I/O with no shuffle (bin assignment is already co-located by
    * part).
    */
  def compactionApply(manifest: DataFrame,
                      targetBytes: Long = 4096L): DataFrame =
    compactionPlan(manifest, targetBytes)
      .groupBy(col("part"), col("bin"))
      .agg(sum("bytes").as("bytes"), count(lit(1)).as("files_merged"))
      .select(col("part"), col("bin").as("file_id"), col("bytes"),
        col("files_merged"))

  /** EXECUTE [[zorderPlan]]'s layout — the apply half closing the
    * z-order maintenance loop the way [[compactionApply]] closed
    * compaction's: every row routes to its planned file (the fixed
    * top-`bucketBits` prefix of the interleaved key — a pure
    * codegen'd projection, so the "rewrite" shuffles each row
    * exactly once on its target file at 100 TB, no global sort, no
    * sampling), and the POST-layout file manifest emits: one row per
    * output file with its row count, byte mass, and the
    * per-dimension min/max pruning stats the written footers would
    * carry. Lossless at both grains by construction — the routing is
    * a partition of the input (row identity) and `sum(bytes)`
    * telescopes (byte conservation) — and `LakeSpec` proves both,
    * plus the loop-closer: [[fileSkipping]]'s probes replayed over
    * THIS manifest reproduce its z-order skip rates exactly
    * (plan → apply → measured skip-rate, nothing hypothetical left).
    */
  def zorderApply(df: DataFrame, dimNames: Seq[String], byteCol: Column,
                  bitsPerDim: Int = 16, bucketBits: Int = 6): DataFrame =
    withFileBucket(df, dimNames, bitsPerDim, bucketBits)
      .withColumn("__bytes", byteCol.cast("long"))
      .groupBy("file_bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__bytes")).as("bytes") +: dimBounds(dimNames): _*)
      .withColumnRenamed("file_bucket", "file_id")

  /** File-SKIPPING estimator — the "why" readout behind
    * [[zorderPlan]]: for the same table, same quantized dims and the
    * SAME file count, build two pruning-stat manifests — the z-order
    * layout and the single-sort layout on the leading dim (bucket =
    * fixed top-bit prefix of that dim, the same no-sample range
    * rule) — then replay a deterministic range-probe workload on the
    * NON-leading dim against each manifest's min/max stats. A file
    * is hit iff `[min, max]` of the probed dim intersects the probe
    * band — exactly the test a parquet reader's row-group pruning
    * runs. Output: one row per (layout, probe) with files hit and
    * the skip rate (one division of exact integer counters).
    *
    * Scale shape: ONE scan — each row explodes into its two
    * (layout, file_bucket) assignments (both pure codegen'd
    * projections), one partial-friendly aggregate builds both
    * manifests together, and everything after runs on
    * metadata-sized stat rows (O(2^bucketBits) per layout) — the
    * data is never touched by the probes, which is the entire point
    * of stats-based skipping at 100 TB.
    */
  def fileSkipping(df: DataFrame, dimNames: Seq[String],
                   bitsPerDim: Int = 16, bucketBits: Int = 6,
                   probes: Int = 8, probeWidth: Long = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dimNames.size == 2, "fileSkipping compares 2-dim layouts")
    require(probes >= 1 && probeWidth >= 1, "need a non-empty workload")
    val Seq(lead, probed) = dimNames
    val zb = shiftright(zorderValue(dimNames.map(col), bitsPerDim),
      bitsPerDim * dimNames.size - bucketBits)
    val sb = shiftright(col(lead).cast("long"), bitsPerDim - bucketBits)
    val manifests = df
      .select(explode(array(
          struct(lit("zorder").as("layout"), zb.as("file_bucket")),
          struct(lit(s"sorted_$lead").as("layout"),
            sb.as("file_bucket")))).as("lb"),
        col(probed))
      .groupBy(col("lb.layout").as("layout"),
        col("lb.file_bucket").as("file_bucket"))
      .agg(min(col(probed)).as("min_p"), max(col(probed)).as("max_p"))
      .withColumn("n_files",
        count(lit(1)).over(Window.partitionBy("layout")))
    val step = (1L << bitsPerDim) / probes
    val probesDf = df.sparkSession.range(probes)
      .select(col("id").as("probe_id"), (col("id") * step).as("lo"),
        (col("id") * step + probeWidth - 1).as("hi"))
    manifests.crossJoin(broadcast(probesDf))
      .groupBy("layout", "probe_id", "lo", "hi", "n_files")
      .agg(sum(when(col("min_p") <= col("hi") &&
          col("max_p") >= col("lo"), 1L).otherwise(0L)).as("files_hit"))
      .withColumn("skip_rate",
        (col("n_files") - col("files_hit")) / col("n_files"))
      .select("layout", "probe_id", "lo", "hi", "n_files", "files_hit",
        "skip_rate")
  }

  /** WRITE [[zorderApply]]'s layout as real parquet — the sink half
    * closing the remaining gap between the modeled manifest and
    * physical files (r15): every row routes to its planned file (the
    * same fixed top-`bucketBits` prefix projection), one physical
    * parquet file per `file_id` partition directory (the hash
    * repartition on `file_id` puts each bucket in exactly one task).
    * The written FOOTERS then carry the min/max stats the modeled
    * manifest predicted — [[footerManifest]] reads them back without
    * touching a data page, and `LakeSpec` proves the loop: footer
    * stats ≡ [[zorderApply]]'s manifest stats, and the probes
    * replayed over the footer manifest reproduce the modeled skip
    * rates exactly. Sink contract only (the driver keys
    * stay on the metadata relations, like SalesJdbc). */
  def writeZorderApplied(df: DataFrame, dimNames: Seq[String], path: String,
                         bitsPerDim: Int = 16, bucketBits: Int = 6): Unit = {
    val width = bitsPerDim * dimNames.size
    require(bucketBits >= 1 && bucketBits <= width,
      s"bucketBits $bucketBits outside 1..$width")
    df.withColumn("file_id",
        shiftright(zorderValue(dimNames.map(col), bitsPerDim),
          width - bucketBits))
      .repartition(col("file_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("file_id").parquet(path)
  }

  /** Per-file pruning-stat manifest read from REAL parquet footers:
    * one row per physical file under `path` with its row count and
    * each dim's min/max column statistics — exactly the metadata a
    * lakehouse table format keeps and a reader's row-group pruning
    * consults. Footer-only I/O: no data page is ever decoded, so the
    * read cost is O(files), not O(bytes) — the economics that make
    * stats-based skipping free at 100 TB. Long dims only (the
    * z-order key's input domain). */
  def footerManifest(spark: SparkSession, path: String,
                     dimNames: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    val rows = files.map { f =>
      // partition value comes from the directory name (the column is
      // not in the file's own schema under partitionBy)
      val fileId = f.getParent.getName.stripPrefix("file_id=").toLong
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val nRows = blocks.map(_.getRowCount).sum
        val stats = dimNames.map { dim =>
          val perBlock = blocks.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == dim)
              .getOrElse(sys.error(s"column $dim missing from footer of $f"))
            val s = c.getStatistics
            require(s != null && !s.isEmpty,
              s"footer of $f carries no stats for $dim")
            (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
          (perBlock.map(_._1).min, perBlock.map(_._2).max)
        }
        (fileId, nRows, stats)
      } finally reader.close()
    }
    import spark.implicits._
    val flat = rows.map { case (id, n, st) =>
      (id, n, st.flatMap(p => Seq(p._1, p._2))) }
    flat.toDF("file_id", "n_rows", "mm")
      .select(col("file_id") +: col("n_rows") +:
        dimNames.zipWithIndex.flatMap { case (dim, i) =>
          Seq(col("mm")(2 * i).as(s"min_$dim"),
            col("mm")(2 * i + 1).as(s"max_$dim")) }: _*)
  }

  /** Write parquet range-partitioned + sorted by the z-order key of
    * `dims`: each output file covers a tight hyper-rectangle of the
    * clustered dimensions, so min/max stats prune on any of them.
    */
  def writeZordered(df: DataFrame, path: String, dims: Seq[Column],
                    files: Int, bitsPerDim: Int = 16,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(!df.columns.contains("__z"),
      "input already has a __z column; rename it before z-ordering" +
        " (the clustering key would silently replace it)")
    df.withColumn("__z", zorderValue(dims, bitsPerDim))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** VACUUM planner — the retention half of the lake maintenance
    * loop beside compaction (small files) and z-order (layout):
    * which physical files a snapshot-expiry pass may safely delete.
    * Table-format semantics (the Delta/Iceberg rule): a file is
    * deletable only when it is (a) no longer referenced by the live
    * snapshot (`removed_snap` set) AND (b) its removal predates the
    * time-travel horizon `current − retain` — a file removed inside
    * the window must stay on disk or rollback/as-of reads break.
    * Per file: the decision (`keep-live` / `keep-travel` /
    * `expire`) and the bytes an expire reclaims.
    *
    * Scale shape: pure metadata — one projection over the file
    * manifest (O(files) rows, never data paths); the horizon is
    * snapshot-id arithmetic, not wall clock, so the plan is
    * deterministic and replayable. At 100 TB the deletes this plan
    * drives are object-store calls; no data ever shuffles.
    */
  def vacuumPlan(manifest: DataFrame, currentSnap: Long,
                 retainSnaps: Long): DataFrame = {
    require(retainSnaps >= 0, s"retention must be >= 0, got $retainSnaps")
    val horizon = currentSnap - retainSnaps
    manifest.select(col("part"), col("file_id"), col("bytes"),
      col("created_snap"), col("removed_snap"),
      when(col("removed_snap").isNull, lit("keep-live"))
        .when(col("removed_snap") >= horizon, lit("keep-travel"))
        .otherwise(lit("expire")).as("action"))
      .withColumn("reclaim_bytes",
        when(col("action") === "expire", col("bytes")).otherwise(lit(0L)))
  }

  /** EXECUTE [[vacuumPlan]]'s expiry — the apply half that closes
    * the retention loop the way compaction and z-order closed theirs
    * (r16): the post-vacuum manifest keeps exactly the plan's
    * `keep-live` and `keep-travel` rows; `expire` tombstones leave
    * the metadata (their object-store deletes are the calls this
    * relation drives). Pure manifest arithmetic — plan↔apply parity
    * and byte conservation (kept + reclaimed = before) are
    * LakeSpec-held, and the driver key oracles the surviving rows.
    */
  def vacuumApply(manifest: DataFrame, currentSnap: Long,
                  retainSnaps: Long): DataFrame =
    vacuumPlan(manifest, currentSnap, retainSnaps)
      .filter(col("action") =!= "expire")
      .select("part", "file_id", "bytes", "created_snap", "removed_snap")

  /** AS-OF snapshot read over the file manifest — the time-travel
    * consumer the vacuum horizon exists to protect (r16): the files
    * live at snapshot `asOfSnap` are those created at or before it
    * and not yet removed (`removed_snap` null or strictly later —
    * a file removed AT snapshot R no longer serves reads ≥ R).
    *
    * The retention contract is enforced LOUDLY: reading below the
    * horizon `currentSnap − retainSnaps` would silently MISS files a
    * vacuum already expired (the read would "succeed" with holes in
    * history — the worst failure mode a lakehouse read can have), so
    * an out-of-window `asOfSnap` throws instead. Within the window,
    * reads resolve identically against the pre- and post-vacuum
    * manifests — that equivalence is exactly what [[vacuumPlan]]'s
    * `keep-travel` class buys, and LakeSpec proves it at every
    * in-window snapshot. */
  def timeTravelRead(manifest: DataFrame, asOfSnap: Long,
                     currentSnap: Long, retainSnaps: Long): DataFrame = {
    val horizon = currentSnap - retainSnaps
    require(asOfSnap >= horizon && asOfSnap <= currentSnap,
      s"as-of snapshot $asOfSnap outside the retention window " +
        s"[$horizon, $currentSnap]: files expired by vacuum may be " +
        "missing — widen retainSnaps or restore from backup")
    manifest
      .filter(col("created_snap") <= asOfSnap &&
        (col("removed_snap").isNull || col("removed_snap") > asOfSnap))
      .select("part", "file_id", "bytes", "created_snap", "removed_snap")
  }

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  def compact(spark: SparkSession, path: String, outPath: String, numFiles: Int): Unit =
    spark.read.parquet(path).repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
}
