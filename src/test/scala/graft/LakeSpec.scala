package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Physical-layout specs: these assert PLAN properties (no exchange,
  * partition pruning), because at 100 TB the plan is the product.
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Probe replay against an EXISTING post-layout manifest — the
    * loop-closer behind [[Lake.zorderApply]]: the same deterministic
    * range-probe workload and the same [min, max]-intersects-band
    * hit test as [[Lake.fileSkipping]], but consuming a manifest
    * relation (`minCol`/`maxCol` = the probed dim's per-file stats)
    * instead of rebuilding layouts from data.
    */
  private def fileSkippingOf(manifest: org.apache.spark.sql.DataFrame,
                             minCol: String, maxCol: String,
                             bitsPerDim: Int, probes: Int,
                             probeWidth: Long): org.apache.spark.sql.DataFrame = {
    require(probes >= 1 && probeWidth >= 1, "need a non-empty workload")
    val step = (1L << bitsPerDim) / probes
    val probesDf = manifest.sparkSession.range(probes)
      .select(col("id").as("probe_id"), (col("id") * step).as("lo"),
        (col("id") * step + probeWidth - 1).as("hi"))
    val nf = manifest.agg(count(lit(1)).as("n_files"))
    manifest
      .select(col(minCol).as("min_p"), col(maxCol).as("max_p"))
      .crossJoin(broadcast(probesDf))
      .groupBy("probe_id", "lo", "hi")
      .agg(sum(when(col("min_p") <= col("hi") &&
        col("max_p") >= col("lo"), 1L).otherwise(0L)).as("files_hit"))
      .crossJoin(broadcast(nf))
      .withColumn("skip_rate",
        (col("n_files") - col("files_hit")) / col("n_files"))
      .select("probe_id", "lo", "hi", "n_files", "files_hit", "skip_rate")
  }

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the in-memory catalog forgets managed tables between JVMs but
    // their warehouse directories survive — clear them explicitly
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  test("ORC round-trips losslessly and pushes filters to the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == docs.schema, "ORC must preserve the schema")
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a == b, "ORC round trip must be lossless")
    // predicate pushdown works on the ORC scan too
    val p = executedPlan(back.filter($"doc_id" === 7L).select("doc_id", "lang"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(doc_id,7)"),
      s"expected pushed doc_id filter on the ORC scan:\n$p")
  }

  test("same-bucket tables join without a shuffle exchange") {
    val left = (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("id", "l")
    val right = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "r")
    dropTable("graft_bucketed_left")
    dropTable("graft_bucketed_right")
    Lake.writeBucketed(left, "graft_bucketed_left", "id", buckets = 8)
    Lake.writeBucketed(right, "graft_bucketed_right", "id", buckets = 8)
    val joined = spark.table("graft_bucketed_left")
      .join(spark.table("graft_bucketed_right"), "id")
      // disable broadcast so the bucketing, not the size, removes the shuffle
      .hint("merge")
    val plan = executedPlan(joined)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == 1000)
  }

  test("partitioned writes prune partitions at the scan") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "click" else "view"))
      .toDF("id", "event_type")
    Lake.writePartitioned(df, s"$dir/events", Seq("event_type"))
    val filtered = spark.read.parquet(s"$dir/events")
      .filter($"event_type" === "click")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"expected partition pruning in:\n$scan")
    // pruned read touches only the matching partition's files. The
    // scan metric counts post-pruning files (inputFiles does not);
    // collect() executes THIS plan (count() would build another one)
    val all = spark.read.parquet(s"$dir/events")
    assert(all.collect().length == 100)
    val totalFiles = all.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    assert(filtered.collect().length == 50)
    val readFiles = filtered.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    assert(readFiles > 0 && readFiles < totalFiles,
      s"no pruning: $readFiles of $totalFiles files")
  }

  test("compact rewrites to the requested file count") {
    val dir = Files.createTempDirectory("graft_compact").toString
    (1 to 1000).toDF("id").repartition(16).write.parquet(s"$dir/in")
    assert(spark.read.parquet(s"$dir/in").inputFiles.length == 16)
    Lake.compact(spark, s"$dir/in", s"$dir/out", numFiles = 2)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.inputFiles.length == 2)
    assert(out.count() == 1000)
  }

  test("compactionPlan: prefix-sum bins, oversized file isolated, hand-computed") {
    val manifest = Seq(
      // part a, target 7: sorted desc [5,4,3,2,1], cum_before
      // [0,5,9,12,14] -> bins [0,0,1,1,2]
      ("a", 1L, 5L), ("a", 2L, 4L), ("a", 3L, 3L), ("a", 4L, 2L),
      ("a", 5L, 1L),
      // part b: a 20-byte monster sits alone in bin 0; the next file
      // starts at cum 20 -> bin 2
      ("b", 1L, 20L), ("b", 2L, 3L))
      .toDF("part", "file_id", "bytes")
    val out = Lake.compactionPlan(manifest, targetBytes = 7L).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("a", 1L)) == ((0L, 9L, 2L)) && out(("a", 2L)) == ((0L, 9L, 2L)))
    assert(out(("a", 3L)) == ((1L, 5L, 2L)) && out(("a", 4L)) == ((1L, 5L, 2L)))
    assert(out(("a", 5L)) == ((2L, 1L, 1L)))
    assert(out(("b", 1L)) == ((0L, 20L, 1L)), "oversized file gets its own bin")
    assert(out(("b", 2L)) == ((2L, 3L, 1L)))
  }

  test("compactionApply: bins rewrite losslessly — rows, bytes, file count, trigger reset") {
    import org.apache.spark.sql.functions._
    // 20 small files per part, one data row per (part, file) cell
    val rows = (0L until 40L).map(d =>
      (d, if (d < 20) "a" else "b", 100L)).toDF("row_id", "part", "bytes")
    val manifest = rows.groupBy(col("part"), (col("row_id") % 20).as("file_id"))
      .agg(sum("bytes").as("bytes"))
    val target = 1000L
    val pre = graft.streaming.DocStream.compactionMonitorState(manifest)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(pre == Map("a" -> true, "b" -> true),
      s"20 sub-300-byte files must trip the monitor: $pre")
    val plan = Lake.compactionPlan(manifest, target).localCheckpoint(true)
    val post = Lake.compactionApply(manifest, target).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // FILE-COUNT parity: 20 x 100B per part at target 1000 -> 2 bins
    assert(post.keySet == Set(("a", 0L), ("a", 1L), ("b", 0L), ("b", 1L)),
      s"$post")
    // BYTE parity: mass conserved per part, split 1000/1000
    assert(post.values.forall(_ == ((1000L, 10L))), s"$post")
    // ROW identity: routing data rows through the plan's
    // (part, file_id) -> bin map loses and duplicates nothing
    val rewritten = rows
      .withColumn("file_id", col("row_id") % 20)
      .join(plan.select("part", "file_id", "bin"), Seq("part", "file_id"))
    assert(rewritten.count() == 40L, "every row lands in exactly one bin")
    assert(rewritten.select("row_id").distinct().count() == 40L)
    // per-bin row byte sums reproduce the post manifest exactly
    val binBytes = rewritten.groupBy("part", "bin")
      .agg(sum("bytes").as("bytes")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(binBytes == post.map { case (k, v) => k -> v._1 }, s"$binBytes")
    // TRIGGER RESET: the post-compaction manifest feeds the monitor
    // and reads compact_now = false everywhere
    val postMonitor = graft.streaming.DocStream.compactionMonitorState(
        Lake.compactionApply(manifest, target)
          .select("part", "file_id", "bytes"))
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(postMonitor == Map("a" -> false, "b" -> false),
      s"compaction must reset the trigger: $postMonitor")
  }

  test("zorderValue interleaves bits like the reference computation") {
    def ref(xs: Seq[Long], bits: Int): Long = {
      var z = 0L
      for (b <- 0 until bits; (x, d) <- xs.zipWithIndex)
        z |= ((x >> b) & 1L) << (b * xs.size + d)
      z
    }
    val rows = Seq((0L, 0L), (3L, 0L), (0L, 3L), (5L, 9L), (65535L, 65535L))
    val got = rows.toDF("x", "y")
      .select(Lake.zorderValue(Seq($"x", $"y"), bitsPerDim = 16).as("z"))
      .as[Long].collect()
    val want = rows.map { case (x, y) => ref(Seq(x, y), 16) }
    assert(got.toSeq == want)
  }

  test("z-order layout keeps per-file ranges tight on BOTH dimensions") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    // two independent uniform dims — a single-key sort leaves the
    // second dimension spanning the full range in every file
    val data = (0 until 4096).map(i => ((i * 2654435761L) % 1024, i.toLong % 1024))
      .toDF("x", "y")
    data.repartitionByRange(8, $"x").sortWithinPartitions("x")
      .write.parquet(s"$dir/bysort")
    Lake.writeZordered(data, s"$dir/byz", Seq($"x", $"y"), files = 8, bitsPerDim = 10)

    def meanRangePerFile(path: String, dim: String): Double = {
      val perFile = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f").agg((max(dim) - min(dim)).as("r"))
        .as[(String, Long)].collect()
      perFile.map(_._2).sum.toDouble / perFile.length
    }
    val zX = meanRangePerFile(s"$dir/byz", "x")
    val zY = meanRangePerFile(s"$dir/byz", "y")
    val sY = meanRangePerFile(s"$dir/bysort", "y")
    // both dims clustered under z-order; y is unclustered under x-sort.
    // full span is 1023, so < 70% of it is a real clustering claim
    // (8 z-range files over 2 dims give ~half-span rectangles)
    assert(zY < sY / 1.5, s"zorder y-range $zY !< sorted y-range $sY / 1.5")
    assert(zX < 1023 * 0.7, s"x must stay clustered too, range $zX")
    assert(spark.read.parquet(s"$dir/byz").count() == 4096)
  }

  test("zorderPlan: buckets partition rows, stats tight on both dims") {
    val data = (0 until 4096)
      .map(i => ((i * 2654435761L) % 1024, i.toLong % 1024))
      .toDF("x", "y")
    val plan = Lake.zorderPlan(data, Seq("x", "y"), bitsPerDim = 10,
      bucketBits = 4).collect()
    assert(plan.map(_.getAs[Long]("n_rows")).sum == 4096L,
      "buckets must partition the input")
    assert(plan.length == 16, s"4 prefix bits → 16 buckets: ${plan.length}")
    // the fixed-prefix bucket = 2 leading bits of EACH dim → every
    // bucket's span on each dim is a quarter of the 1024 grid
    plan.foreach { r =>
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") <= 255,
        s"x span loose in bucket $r")
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") <= 255,
        s"y span loose in bucket $r")
    }
    // assignment is a pure projection: no exchange anywhere before
    // the final aggregate's own shuffle
    val planStr = Lake.zorderPlan(data, Seq("x", "y"), bitsPerDim = 10,
      bucketBits = 4).queryExecution.executedPlan.toString
    assert(planStr.split("Exchange").length <= 2,
      s"one aggregate exchange only:\n$planStr")
  }

  test("zorderApply: lossless rewrite + skip-rate loop closes on the POST manifest") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val data = (0 until 4096)
      .map(i => ((i * 2654435761L) % 1024, (i * 733L) % 1024,
        100L + i % 57))
      .toDF("x", "y", "row_bytes")
    val manifest = Lake.zorderApply(data, Seq("x", "y"), col("row_bytes"),
      bitsPerDim = 10, bucketBits = 4)
    val rows = manifest.collect()
    // conservation at both grains: rows partition, bytes telescope
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 4096L,
      "every input row lands in exactly one output file")
    assert(rows.map(_.getAs[Long]("bytes")).sum ==
      (0 until 4096).map(i => 100L + i % 57).sum,
      "byte mass conserves through the rewrite")
    // ROW identity through the routing: every row's dims sit inside
    // its file's published pruning stats
    val routed = data.withColumn("file_id",
        org.apache.spark.sql.functions.shiftright(
          Lake.zorderValue(Seq(col("x"), col("y")), 10), 20 - 4))
      .join(manifest, Seq("file_id"))
      .filter(col("x") < col("min_x") || col("x") > col("max_x") ||
        col("y") < col("min_y") || col("y") > col("max_y"))
    assert(routed.count() == 0L,
      "a file's stats must bound every row routed into it")
    // the loop-closer: probing the POST-layout manifest reproduces
    // fileSkipping's z-order rows exactly — the plan's promised skip
    // rates are the applied layout's measured ones
    val measured = fileSkippingOf(manifest, "min_y", "max_y",
        bitsPerDim = 10, probes = 4, probeWidth = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val promised = Lake.fileSkipping(data, Seq("x", "y"), bitsPerDim = 10,
        bucketBits = 4, probes = 4, probeWidth = 16)
      .filter(col("layout") === "zorder").collect()
      .map(r => r.getLong(1) -> (r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    assert(measured == promised,
      s"post-layout skip rates must equal the plan's:\n$measured\nvs\n$promised")
  }

  test("z-order WRITE round-trip: real footer stats reproduce the modeled manifest") {
    import org.apache.spark.sql.functions.col
    // the r15 sink contract: physically write the applied layout,
    // read ONLY the parquet footers back, and the real files must
    // carry exactly the stats the modeled manifest promised — plan →
    // apply → WRITE → footer-measured skip rate, nothing modeled left
    val data = (0 until 4096)
      .map(i => ((i * 2654435761L) % 1024, (i * 733L) % 1024,
        100L + i % 57))
      .toDF("x", "y", "row_bytes")
    val path = Files.createTempDirectory("graft_zwrite").toString + "/t"
    Lake.writeZorderApplied(data, Seq("x", "y"), path,
      bitsPerDim = 10, bucketBits = 4)
    // row identity through the physical round trip
    val back = spark.read.parquet(path)
    assert(back.count() == 4096L)
    assert(back.select("x", "y", "row_bytes").except(
        data.select("x", "y", "row_bytes")).count() == 0L &&
      data.select("x", "y", "row_bytes").except(
        back.select("x", "y", "row_bytes")).count() == 0L,
      "written rows must be exactly the input rows")
    // footer stats (no data page read) == the modeled manifest
    val fromFooters = Lake.footerManifest(spark, path, Seq("x", "y"))
      .collect().map(r => r.getAs[Long]("file_id") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("min_x"),
          r.getAs[Long]("max_x"), r.getAs[Long]("min_y"),
          r.getAs[Long]("max_y"))).toMap
    val modeled = Lake.zorderApply(data, Seq("x", "y"), col("row_bytes"),
        bitsPerDim = 10, bucketBits = 4)
      .collect().map(r => r.getAs[Long]("file_id") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("min_x"),
          r.getAs[Long]("max_x"), r.getAs[Long]("min_y"),
          r.getAs[Long]("max_y"))).toMap
    assert(fromFooters == modeled,
      s"real footers must carry the modeled stats:\n$fromFooters\nvs\n$modeled")
    // one physical file per planned bucket (the repartition contract)
    assert(fromFooters.size == modeled.size)
    // and the measured-from-REAL-files skip rates equal the modeled ones
    val real = fileSkippingOf(
        Lake.footerManifest(spark, path, Seq("x", "y")), "min_y", "max_y",
        bitsPerDim = 10, probes = 4, probeWidth = 16).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val model = fileSkippingOf(
        Lake.zorderApply(data, Seq("x", "y"), col("row_bytes"),
          bitsPerDim = 10, bucketBits = 4), "min_y", "max_y",
        bitsPerDim = 10, probes = 4, probeWidth = 16).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(real == model,
      s"footer-measured skip rates must equal the modeled:\n$real\nvs\n$model")
  }

  test("zorderApply conservation holds on RANDOM shapes (property)") {
    import org.apache.spark.sql.functions.col
    // randomized dims / sizes / bucketBits: rows must always
    // partition, bytes always telescope, and every file's stats must
    // bound its rows — the invariants the one-fixture test can't
    // stress across bucket-boundary shapes
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 3) {
      val n = 500 + rnd.nextInt(2000)
      val bits = 6 + rnd.nextInt(5) // 6..10 bits per dim
      val bb = 2 + rnd.nextInt(2 * bits - 3) // 2..(2*bits-2)
      val lim = 1L << bits
      val rows = (0 until n).map(i =>
        (rnd.nextLong(lim), rnd.nextLong(lim), 64L + rnd.nextInt(512)))
      val data = spark.createDataFrame(rows).toDF("x", "y", "row_bytes")
      val m = Lake.zorderApply(data, Seq("x", "y"), col("row_bytes"),
        bitsPerDim = bits, bucketBits = bb).collect()
      assert(m.map(_.getAs[Long]("n_rows")).sum == n.toLong,
        s"round $round: rows must partition (bits=$bits bb=$bb)")
      assert(m.map(_.getAs[Long]("bytes")).sum == rows.map(_._3).sum,
        s"round $round: bytes must telescope")
      assert(m.length <= (1 << bb),
        s"round $round: at most 2^bucketBits output files")
      val routed = data.withColumn("file_id",
          org.apache.spark.sql.functions.shiftright(
            Lake.zorderValue(Seq(col("x"), col("y")), bits), 2 * bits - bb))
        .join(spark.createDataFrame(m.toSeq.asInstanceOf[Seq[org.apache.spark.sql.Row]].map(r =>
          (r.getAs[Long]("file_id"), r.getAs[Long]("min_x"),
            r.getAs[Long]("max_x"), r.getAs[Long]("min_y"),
            r.getAs[Long]("max_y"))))
          .toDF("file_id", "min_x", "max_x", "min_y", "max_y"),
          Seq("file_id"))
        .filter(col("x") < col("min_x") || col("x") > col("max_x") ||
          col("y") < col("min_y") || col("y") > col("max_y"))
      assert(routed.count() == 0L,
        s"round $round: stats must bound every routed row")
    }
  }

  test("vacuumPlan: live and in-window files keep, only tombstones " +
    "older than the time-travel horizon expire") {
    // current snapshot 8, retain 2 → horizon 6: removal at 5 is
    // reclaimable, removals at 6/7 must stay for rollback, live
    // files (null removal) are untouchable regardless of age
    val mf = Seq(
      ("p", 0L, 100L, 1L, None),       // live forever
      ("p", 1L, 200L, 1L, Some(5L)),   // stale tombstone → expire
      ("p", 2L, 300L, 2L, Some(6L)),   // exactly at horizon → keep
      ("p", 3L, 400L, 3L, Some(7L)),   // inside window → keep
      ("q", 4L, 500L, 0L, Some(0L)))   // ancient tombstone → expire
      .toDF("part", "file_id", "bytes", "created_snap", "removed_snap")
    val plan = Lake.vacuumPlan(mf, currentSnap = 8L, retainSnaps = 2L)
      .collect().map(r => r.getLong(1) -> (r.getString(5), r.getLong(6)))
      .toMap
    assert(plan(0L) === (("keep-live", 0L)))
    assert(plan(1L) === (("expire", 200L)))
    assert(plan(2L) === (("keep-travel", 0L)))
    assert(plan(3L) === (("keep-travel", 0L)))
    assert(plan(4L) === (("expire", 500L)))
    // reclaim telescopes: total reclaimable == the expired files' mass
    val total = Lake.vacuumPlan(mf, 8L, 2L)
      .agg(sum("reclaim_bytes")).first().getLong(0)
    assert(total === 700L)
    // retention 0 reclaims every tombstone; a huge window reclaims none
    assert(Lake.vacuumPlan(mf, 8L, 0L)
      .filter($"action" === "expire").count() === 4L)
    assert(Lake.vacuumPlan(mf, 8L, 100L)
      .filter($"action" === "expire").count() === 0L)
  }

  test("vacuumApply + timeTravelRead: plan-apply parity, byte " +
    "conservation, in-window as-of equivalence, loud out-of-window reads") {
    val mf = Seq(
      ("p", 0L, 100L, 1L, None),       // live forever
      ("p", 1L, 200L, 1L, Some(5L)),   // stale tombstone → expires
      ("p", 2L, 300L, 2L, Some(6L)),   // at horizon → survives
      ("p", 3L, 400L, 3L, Some(7L)),   // inside window → survives
      ("p", 5L, 250L, 7L, None),       // created inside the window
      ("q", 4L, 500L, 0L, Some(0L)))   // ancient tombstone → expires
      .toDF("part", "file_id", "bytes", "created_snap", "removed_snap")
    val vacuumed = Lake.vacuumApply(mf, currentSnap = 8L, retainSnaps = 2L)
      .localCheckpoint(true)
    // plan↔apply parity: apply keeps exactly the plan's non-expire rows
    val plan = Lake.vacuumPlan(mf, 8L, 2L)
    assert(vacuumed.select("file_id").collect().map(_.getLong(0)).toSet ===
      plan.filter($"action" =!= "expire")
        .select("file_id").collect().map(_.getLong(0)).toSet)
    // byte conservation: kept + reclaimed = before
    val kept = vacuumed.agg(sum("bytes")).first().getLong(0)
    val reclaimed = plan.agg(sum("reclaim_bytes")).first().getLong(0)
    assert(kept + reclaimed === mf.agg(sum("bytes")).first().getLong(0))
    // in-window as-of reads resolve IDENTICALLY pre/post vacuum —
    // every snapshot the retention contract covers, not just one
    def files(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    (6L to 8L).foreach { snap =>
      assert(files(Lake.timeTravelRead(vacuumed, snap, 8L, 2L)) ===
        files(Lake.timeTravelRead(mf, snap, 8L, 2L)),
        s"as-of $snap must not see vacuum")
    }
    // the boundary read still resolves the at-horizon removal
    // correctly: file 2 (removed AT 6) serves no read >= 6
    assert(!files(Lake.timeTravelRead(vacuumed, 6L, 8L, 2L))
      .contains(("p", 2L)))
    // below the horizon: fail loudly instead of returning holes —
    // file 1 (removed at 5) WAS live at snapshot 4 but is expired
    val thrown = intercept[IllegalArgumentException] {
      Lake.timeTravelRead(vacuumed, 4L, 8L, 2L)
    }
    assert(thrown.getMessage.contains("outside the retention window"))
  }

  test("fileSkipping: zorder skips on the non-leading dim, single-sort cannot") {
    // x uniform via a multiplicative walk, y striped so every
    // x-prefix bucket sees the full y range — the single-sort
    // manifest's y stats are then useless while the z buckets stay
    // tight on y by construction
    val data = (0 until 4096)
      .map(i => ((i * 2654435761L) % 1024, (i * 733L) % 1024))
      .toDF("x", "y")
    val out = Lake.fileSkipping(data, Seq("x", "y"), bitsPerDim = 10,
      bucketBits = 4, probes = 4, probeWidth = 16).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out.size == 8, s"2 layouts x 4 probes: ${out.keySet}")
    (0L until 4L).foreach { p =>
      val (zn, zHit, zSkip) = out(("zorder", p))
      val (sn, sHit, sSkip) = out(("sorted_x", p))
      // a 16-wide y band lies inside ONE y quarter -> only the 4
      // buckets of that y prefix can be hit
      assert(zn == 16 && zHit <= 4 && zSkip >= 0.75,
        s"probe $p zorder: ($zn, $zHit, $zSkip)")
      // single-sort buckets span ~all of y -> (near-)zero skipping;
      // a stray bucket whose y-min just misses a band is fixture
      // noise, not pruning
      assert(sn == 16 && sHit >= 14 && sSkip <= 0.15,
        s"probe $p sorted_x: ($sn, $sHit, $sSkip)")
    }
  }

  test("vacuum + time travel on random manifests: kept+reclaimed " +
    "conservation, and every in-window as-of read is vacuum-invariant") {
    val rnd = new scala.util.Random(162)
    for (round <- 1 to 4) {
      val current = 6L + rnd.nextInt(6)
      val retain = rnd.nextInt(4).toLong
      val mf = (0 until 120).map { i =>
        val created = rnd.nextInt(current.toInt).toLong
        val removed =
          if (rnd.nextBoolean()) None
          else Some(created + 1 + rnd.nextInt(6).toLong)
        ("p" + rnd.nextInt(3), i.toLong, 10L + rnd.nextInt(500),
          created, removed)
      }.toDF("part", "file_id", "bytes", "created_snap", "removed_snap")
        .localCheckpoint(true)
      val plan = Lake.vacuumPlan(mf, current, retain)
      val vac = Lake.vacuumApply(mf, current, retain).localCheckpoint(true)
      val kept = vac.agg(sum("bytes")).first().getLong(0)
      val reclaimed = plan.agg(sum("reclaim_bytes")).first().getLong(0)
      assert(kept + reclaimed === mf.agg(sum("bytes")).first().getLong(0),
        s"round $round: conservation broke")
      def files(df: org.apache.spark.sql.DataFrame, snap: Long) =
        Lake.timeTravelRead(df, snap, current, retain)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      ((current - retain) to current).foreach { snap =>
        assert(files(vac, snap) === files(mf, snap),
          s"round $round: as-of $snap differs post-vacuum " +
            s"(current $current retain $retain)")
      }
      // below-horizon reads refuse (when a below-horizon snap exists)
      if (current - retain > 0)
        intercept[IllegalArgumentException] {
          Lake.timeTravelRead(vac, current - retain - 1, current, retain)
        }
    }
  }

  test("vacuumPlan: the action column partitions every random manifest " +
    "exactly by the retention rule") {
    val rnd = new scala.util.Random(153)
    for (round <- 1 to 3) {
      val current = 5L + rnd.nextInt(10)
      val retain = rnd.nextInt(6).toLong
      val mf = (0 until 200).map { i =>
        val created = rnd.nextInt(current.toInt).toLong
        val removed = if (rnd.nextBoolean()) None
          else Some(created + rnd.nextInt(5).toLong)
        ("p" + rnd.nextInt(4), i.toLong, 10L + rnd.nextInt(1000),
          created, removed)
      }.toDF("part", "file_id", "bytes", "created_snap", "removed_snap")
      val out = Lake.vacuumPlan(mf, current, retain).collect()
      out.foreach { r =>
        val removed = if (r.isNullAt(4)) None else Some(r.getLong(4))
        val expected = removed match {
          case None => "keep-live"
          case Some(x) if x >= current - retain => "keep-travel"
          case _ => "expire"
        }
        assert(r.getString(5) === expected, s"round $round: $r")
        assert(r.getLong(6) ===
          (if (expected == "expire") r.getLong(2) else 0L))
      }
      assert(out.length === 200)
    }
  }

  test("zorderValue round-trips: de-interleaving recovers both dims") {
    val rnd = new scala.util.Random(37)
    val pts = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Lake.zorderValue(Seq($"x", $"y"), 16).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (rx, ry) = (0L, 0L)
      for (b <- 0 until 16) {
        rx |= ((z >> (2 * b)) & 1L) << b
        ry |= ((z >> (2 * b + 1)) & 1L) << b
      }
      assert((rx, ry) == ((x, y)), s"($x,$y) -> $z -> ($rx,$ry)")
    }
  }
}
