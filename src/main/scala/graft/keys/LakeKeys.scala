package graft
package keys

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

import OracleFragments._

/** The lake keys (`lake_*`): compaction, vacuum, time travel and z-order
  * layout over synthetic file manifests. */
private[graft] object LakeKeys extends Family("lake_") {

  // the per-source synthetic file grain shared by the lake and
  // compaction keys: file = doc_id % 37 within each source
  private def docFiles(s: SparkSession, dir: String): RelationalGroupedDataset =
    Tables.documents(s, dir)
      .groupBy(col("source").as("part"),
        (col("doc_id") % 37).as("file_id"))

  // the synthetic file manifest: bytes = exact char mass per file
  private[keys] def docFileManifest(s: SparkSession, dir: String): DataFrame =
    docFiles(s, dir).agg(sum("n_chars").as("bytes"))

  // the orders dims range-scaled into the full 16-bit grid via exact
  // integer division (an unscaled dim leaves the key prefix constant
  // and every row lands in one bucket), then `extra`; the max() pair
  // is a one-row broadcast, same pattern as the calendar midpoints
  private def ordersGrid16(s: SparkSession, dir: String, extra: Column*): DataFrame = {
    val o = Tables.orders(s, dir)
    val stats = o.agg(
      max(col("o_custkey")).as("max_c"),
      max(datediff(col("o_orderdate"), lit("1992-01-01"))).cast("long")
        .as("max_d"))
    o.crossJoin(broadcast(stats)).select(Seq(
      expr("(o_custkey * 65536) div (max_c + 1)").as("cust16"),
      expr(s"(CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)" +
        s" * 65536) div (max_d + 1)").as("day16")) ++ extra: _*)
  }

  // the synthetic file manifest with snapshot lineage shared by the
  // lake retention keys (vacuum plan/apply + as-of read): one
  // documents collapse, O(files) rows, pure metadata
  private def snapManifest(s: SparkSession, dir: String): DataFrame =
    docFiles(s, dir)
      .agg(sum("n_chars").as("bytes"),
        (min("doc_id") % 7).as("created_snap"),
        when(max("doc_id") % 3 === 0,
          min("doc_id") % 7 + 1 + max("doc_id") % 4)
          .as("removed_snap"))

  lazy val keys: Seq[Key] = Seq(
    // compaction planner over a per-source synthetic file manifest
    // (file grain = doc_id % 37, bytes = exact char mass)
    Key("lake_compaction_plan")((s, dir) =>
      graft.sources.Lake.compactionPlan(
        docFileManifest(s, dir)))(
      // same manifest + the same prefix-sum rule in window SQL;
      // everything integer, bit-replayable
      s"""WITH $lakeBinCtes
        |SELECT part, file_id, bytes,
        | CAST(cum_before // 4096 AS BIGINT) AS bin,
        | CAST(sum(bytes) OVER (PARTITION BY part, cum_before // 4096)
        |  AS BIGINT) AS bin_bytes,
        | CAST(count(*) OVER (PARTITION BY part, cum_before // 4096)
        |  AS BIGINT) AS bin_files
        |FROM b"""),
    // EXECUTE the plan's bins (r13): post-compaction manifest — one
    // merged file per (part, bin), byte mass conserved, parity specs
    // prove row identity and the monitor's trigger reset
    Key("lake_compaction_apply")((s, dir) =>
      graft.sources.Lake.compactionApply(
        docFileManifest(s, dir)))(
      // the same plan chain folded per (part, bin): bytes conserve,
      // input files count — everything integer, bit-replayable
      s"""WITH $lakeBinCtes
        |SELECT part, CAST(cum_before // 4096 AS BIGINT) AS file_id,
        | CAST(sum(bytes) AS BIGINT) AS bytes,
        | CAST(count(*) AS BIGINT) AS files_merged
        |FROM b GROUP BY 1, 2"""),
    // VACUUM planner (r15): snapshot-expiry decisions over the same
    // synthetic file manifest, extended with deterministic snapshot
    // lineage — live files keep, files removed inside the 2-snapshot
    // time-travel window keep, older tombstones expire with their
    // reclaimable bytes; pure metadata, O(files) rows
    Key("lake_vacuum_plan")((s, dir) =>
      graft.sources.Lake.vacuumPlan(snapManifest(s, dir),
        currentSnap = 8L, retainSnaps = 2L))(
      // the manifest's snapshot lineage + the retention rule, all
      // integer arithmetic (horizon = 8 − 2 = 6)
      s"""WITH $lakeSnapshotCte,
        |p AS (SELECT *, CASE WHEN removed_snap IS NULL THEN 'keep-live'
        |  WHEN removed_snap >= 6 THEN 'keep-travel'
        |  ELSE 'expire' END AS action FROM m)
        |SELECT part, file_id, bytes, created_snap, removed_snap, action,
        | CASE WHEN action = 'expire' THEN bytes ELSE 0 END AS reclaim_bytes
        |FROM p"""),
    // EXECUTE the expiry (r16): the post-vacuum manifest — exactly
    // the plan's keep rows; parity + byte conservation LakeSpec-held
    Key("lake_vacuum_apply")((s, dir) =>
      graft.sources.Lake.vacuumApply(snapManifest(s, dir),
        currentSnap = 8L, retainSnaps = 2L))(
      // the post-vacuum manifest: exactly the plan's keep rows
      // (removed_snap null = live, or inside the [6, 8] window)
      s"""WITH $lakeSnapshotCte
        |SELECT part, file_id, bytes, created_snap, removed_snap
        |FROM m WHERE removed_snap IS NULL OR removed_snap >= 6"""),
    // AS-OF read at the horizon boundary over the VACUUMED manifest
    // (r16): within-window reads resolve identically pre/post vacuum
    // (LakeSpec proves every in-window snapshot; below-horizon reads
    // throw instead of silently missing expired files)
    Key("lake_time_travel_read")((s, dir) =>
      graft.sources.Lake.timeTravelRead(
        graft.sources.Lake.vacuumApply(snapManifest(s, dir),
          currentSnap = 8L, retainSnaps = 2L),
        asOfSnap = 6L, currentSnap = 8L, retainSnaps = 2L))(
      // live files at snapshot 6 read from the VACUUMED manifest:
      // created at-or-before 6 and not removed at-or-before 6
      s"""WITH $lakeSnapshotCte,
        |v AS (SELECT * FROM m
        | WHERE removed_snap IS NULL OR removed_snap >= 6)
        |SELECT part, file_id, bytes, created_snap, removed_snap
        |FROM v WHERE created_snap <= 6
        | AND (removed_snap IS NULL OR removed_snap > 6)"""),
    // z-order layout plan: per file-bucket pruning-stat manifest
    // from the fixed-prefix interleaved key — bucket assignment is a
    // pure projection (no range sampling, no global sort); dims on
    // the 16-bit grid of ordersGrid16
    Key("lake_zorder_plan")((s, dir) =>
      graft.sources.Lake.zorderPlan(ordersGrid16(s, dir), Seq("cust16", "day16")))(
      // the 2×16-bit Morton interleave unrolled term-by-term (dim 0
      // at even bit positions, dim 1 at odd — zorderValue's layout),
      // bucket = top 6 bits of the 32-bit key; pure integer math,
      // bit-exact
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql
         | FROM orders, mm),
         |z AS (SELECT x, y, ($mortonSql) // ${1L << 26} AS file_bucket FROM q)
         |SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
         | CAST(count(*) AS BIGINT) AS n_rows,
         | $zBoundsSql
         |FROM z GROUP BY 1"""),
    // EXECUTE the z-order plan (r14): every row routes to its
    // planned file, the POST-layout manifest emits with byte mass
    // (synthetic per-row payload, exact integers — the orders
    // fixture carries no text column) and the pruning stats the
    // written footers would carry; LakeSpec closes the loop —
    // fileSkippingOf over this manifest reproduces fileSkipping's
    // z-order skip rates
    Key("lake_zorder_apply")((s, dir) =>
      graft.sources.Lake.zorderApply(
        ordersGrid16(s, dir,
          (col("o_orderkey") % 1901 + 128).cast("long").as("row_bytes")),
        Seq("cust16", "day16"), col("row_bytes")))(
      // the zorder_plan interleave chain + the per-file byte mass
      // (o_comment's exact char count) — all integer, bit-replayable
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql,
         |  CAST(o_orderkey % 1901 + 128 AS BIGINT) AS b
         | FROM orders, mm),
         |z AS (SELECT x, y, b, ($mortonSql) // ${1L << 26} AS file_id FROM q)
         |SELECT CAST(file_id AS BIGINT) AS file_id,
         | CAST(count(*) AS BIGINT) AS n_rows,
         | CAST(sum(b) AS BIGINT) AS bytes,
         | $zBoundsSql
         |FROM z GROUP BY 1"""),
    // the skip-rate readout BEHIND the z-order plan: same quantized
    // dims, same file count — z-order skips on the non-leading dim,
    // the single-sort layout cannot
    Key("lake_file_skipping")((s, dir) =>
      graft.sources.Lake.fileSkipping(ordersGrid16(s, dir), Seq("cust16", "day16")))(
      // both manifests + the probe workload replayed in integer SQL:
      // the z interleave shared with lake_zorder_plan, the
      // single-sort bucket a plain top-bit prefix of the leading dim,
      // the hit test the same [min,max]-intersects-band predicate
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql
         | FROM orders, mm),
         |zm AS (SELECT 'zorder' AS layout,
         |  ($mortonSql) // ${1L << 26} AS file_bucket,
         |  min(y) AS min_day16, max(y) AS max_day16 FROM q GROUP BY 2),
         |sm AS (SELECT 'sorted_cust16' AS layout, x // ${1L << 10}
         |   AS file_bucket,
         |  min(y) AS min_day16, max(y) AS max_day16 FROM q GROUP BY 2),
         |m AS (SELECT * FROM zm UNION ALL SELECT * FROM sm),
         |nf AS (SELECT layout, count(*) AS n_files FROM m GROUP BY 1),
         |pr AS (SELECT i AS probe_id, i * 8192 AS lo,
         |  i * 8192 + 511 AS hi FROM range(8) t(i)),
         |hits AS (SELECT m.layout, pr.probe_id, pr.lo, pr.hi,
         |  sum(CASE WHEN m.min_day16 <= pr.hi AND m.max_day16 >= pr.lo
         |    THEN 1 ELSE 0 END) AS files_hit
         | FROM m, pr GROUP BY 1, 2, 3, 4)
         |SELECT h.layout, CAST(h.probe_id AS BIGINT) AS probe_id,
         | CAST(h.lo AS BIGINT) AS lo, CAST(h.hi AS BIGINT) AS hi,
         | CAST(nf.n_files AS BIGINT) AS n_files,
         | CAST(h.files_hit AS BIGINT) AS files_hit,
         | CAST(nf.n_files - h.files_hit AS BIGINT)
         |  / CAST(nf.n_files AS BIGINT) AS skip_rate
         |FROM hits h JOIN nf USING (layout)"""),
  )
}
