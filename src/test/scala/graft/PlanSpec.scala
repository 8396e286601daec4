package graft

import graft.operators.{Analytics, RetailEtl}
import graft.sources.Tables

/** Plan-shape regression specs: at 100 TB the plan IS the product,
  * so broadcast strategy, filter pushdown, and partial aggregation
  * are asserted, not assumed.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("enrichOrders joins dims via broadcast, fact never shuffles") {
    val p = plan(Analytics.enrichOrders(
      Tables.orders(spark, dir), Tables.customer(spark, dir), Tables.nation(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"fact side must not shuffle:\n$p")
  }

  test("q5-style join broadcasts every dimension") {
    val p = plan(Analytics.regionalRevenue(
      Tables.region(spark, dir), Tables.nation(spark, dir), Tables.customer(spark, dir),
      Tables.supplier(spark, dir), Tables.orders(spark, dir), Tables.lineitem(spark, dir)))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
  }

  test("source filters reach the parquet scan (pushdown)") {
    val p = plan(RetailEtl.salesFromLineitem(Tables.lineitem(spark, dir), Some("F")))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_linestatus,F)"),
      s"expected pushed linestatus filter:\n$p")
  }

  test("scans prune to referenced columns only") {
    val p = plan(Analytics.pricingSummary(Tables.lineitem(spark, dir)))
    assert(!p.contains("l_orderkey"),
      s"pricing summary must not read join keys it never uses:\n$p")
    assert(!p.contains("l_shipdate"), s"unused column not pruned:\n$p")
  }

  test("aggregates run map-side partials before the exchange") {
    val p = plan(RetailEtl.aggregate(
      RetailEtl.salesFromLineitem(Tables.lineitem(spark, dir))))
    assert(p.contains("partial_sum"), s"expected partial aggregation:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("minCostSupplier aggregates before ranking and broadcasts dims") {
    val p = plan(Analytics.minCostSupplier(Tables.lineitem(spark, dir),
      Tables.supplier(spark, dir), Tables.part(spark, dir)))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"part and supplier must broadcast:\n$p")
    // the window must consume the (part, supplier) aggregate, never raw lineitem:
    // partial agg on the scan side proves aggregation-then-rank ordering
    assert(p.contains("partial_min"), s"expected pre-window partial agg:\n$p")
  }

  test("nationVolume has exactly one fact-fact shuffle join") {
    val p = plan(Analytics.nationVolume(Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), Tables.customer(spark, dir),
      Tables.supplier(spark, dir), Tables.nation(spark, dir)))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"supplier/customer nation maps must broadcast:\n$p")
    val sortMerge = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(sortMerge <= 1, s"only lineitem⋈orders may shuffle:\n$p")
  }

  test("largeOrders filters on the aggregate before joining orders") {
    val p = plan(Analytics.largeOrders(Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), Tables.customer(spark, dir)))
    // the HAVING predicate must sit on the aggregate output, not after the join
    assert(p.contains("partial_sum"), s"expected partial agg on lineitem:\n$p")
    assert(p.contains("(sum_qty"), s"expected sum_qty filter in plan:\n$p")
  }

  test("forecastRevenue pushes the whole predicate to the scan") {
    val p = plan(Analytics.forecastRevenue(Tables.lineitem(spark, dir)))
    // the PushedFilters list is elided in toString — assert on the
    // DataFilters/Filter spellings, which carry the same predicates
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      "\\(l_quantity#\\d+ < 24\\.0\\)".r.findFirstIn(p).isDefined,
      s"discount band + quantity cap must reach the parquet scan:\n$p")
    assert(!p.contains("l_orderkey"), s"unused columns must prune:\n$p")
  }

  test("disjunctiveRevenue broadcasts part and keeps one shuffle") {
    val p = plan(Analytics.disjunctiveRevenue(Tables.lineitem(spark, dir),
      Tables.part(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"only the groupBy may shuffle, got $exchanges:\n$p")
    // the brand IN prefix of the OR-of-ANDs must reach the part scan
    assert(p.contains("In(p_brand") || p.contains("Or(EqualTo(p_brand"),
      s"brand disjunction should push into the dim scan:\n$p")
  }

  test("soleBlameSuppliers shuffles the fact once, never self-joins it") {
    val p = plan(Analytics.soleBlameSuppliers(Tables.lineitem(spark, dir),
      Tables.supplier(spark, dir)))
    val factShuffles = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).length
    assert(factShuffles == 1,
      s"per-(order,supplier) agg and per-order window share one l_orderkey shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact self-join allowed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier must broadcast:\n$p")
  }

  test("idleRichCustomers broadcasts the scalar average and the anti side") {
    val p = plan(Analytics.idleRichCustomers(Tables.customer(spark, dir),
      Tables.orders(spark, dir)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row average must broadcast:\n$p")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(o_orderdate,"),
      s"the cutoff must reach the orders scan:\n$p")
  }

  test("bloom prune probes via a codegen'd expression, not a Scala UDF") {
    val p = plan(Analytics.topRevenueOrdersBloom(Tables.customer(spark, dir),
      Tables.orders(spark, dir), Tables.lineitem(spark, dir)))
    assert(!p.contains("UDF"), s"no ScalaUDF may survive in the plan:\n$p")
    assert(p.contains("bloom_might_contain_long"),
      s"expected the native bloom probe on the lineitem scan:\n$p")
  }

  test("paretoRevenue ranks within revenue bands, never one partition") {
    val p = plan(Analytics.paretoRevenue(Tables.lineitem(spark, dir)))
    assert("windowspecdefinition\\(band#\\d+L, revenue".r.findFirstIn(p).isDefined,
      s"rank/cumsum window must partition by revenue band:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition funnel allowed:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"band offsets and thresholds must broadcast:\n$p")
  }

  test("abcClass ranks within revenue bands, never one partition") {
    val p = plan(Analytics.abcClass(Tables.lineitem(spark, dir)))
    assert("windowspecdefinition\\(band#\\d+L, revenue".r.findFirstIn(p).isDefined,
      s"cumulative-share window must partition by revenue band:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition funnel allowed:\n$p")
  }

  test("context chunker is a pure projection: zero shuffles, zero joins") {
    val p = plan(graft.operators.TextAnalysis.contextChunks(
      Tables.documents(spark, dir)))
    assert(!p.contains("Exchange"), s"chunking must never shuffle:\n$p")
    assert(!p.contains("Join"), s"chunking must never join:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only doc_id and text:\n$p")
  }

  test("source cap ranks via bounded aggregation, not a window sort") {
    val p = plan(graft.operators.Curation.sourceCap(
      Tables.documents(spark, dir), cap = 10))
    assert(!p.contains("windowspecdefinition"),
      s"the cap must use the bounded-heap aggregator, not a window:\n$p")
    assert(p.contains("partial_largestkwithpayload") ||
      p.contains("ObjectHashAggregate"),
      s"expected a partial-merging aggregate for the heap:\n$p")
  }

  test("streaming curate gate plan is scan → filter → project, no exchanges") {
    val docs = Tables.documents(spark, dir)
    val p = plan(graft.streaming.DocStream.curateGate(
      docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0)))
    // the static benchmark-gram set folds to a literal at plan time,
    // so the WHOLE gate plan is exchange- and join-free — the shape
    // that guarantees zero state stores in streaming
    assert(!p.contains("Exchange"), s"gate must not shuffle or broadcast:\n$p")
    assert(!p.contains("Join"), s"gate must not join:\n$p")
  }

  test("token-budget selection ranks within quality bands, never one partition") {
    val p = plan(graft.operators.Curation.selectToBudget(
      Tables.documents(spark, dir), 5000L))
    assert("windowspecdefinition\\(band#\\d+L".r.findFirstIn(p).isDefined,
      s"cumsum window must partition by quality band:\n$p")
    assert(!p.contains("Exchange SinglePartition") ||
      // the O(#bands) offset frame may legitimately single-partition;
      // the corpus-side window exchange must hash-partition by band
      "Exchange hashpartitioning\\(band#\\d+L".r.findFirstIn(p).isDefined,
      s"no single-partition funnel for the corpus window:\n$p")
  }

  test("packing prefix sum never uses a global (unpartitioned) window") {
    val perDoc = graft.operators.Packing.tokensPerDoc(Tables.documents(spark, dir))
    val p = plan(graft.operators.Packing.prefixSum(perDoc))
    // the window spec must partition on the bucket key …
    assert("windowspecdefinition\\(bucket#\\d+L, doc_id".r.findFirstIn(p).isDefined,
      s"window must be bucket-partitioned:\n$p")
    // … and its exchange must hash-partition, never collapse to one partition
    assert("Exchange hashpartitioning\\(bucket#\\d+L".r.findFirstIn(p).isDefined &&
      !p.contains("Exchange SinglePartition"),
      s"expected bucket-partitioned exchange, no single-partition funnel:\n$p")
  }

  test("source diagnostics read sources through one narrow pruned scan") {
    // the (doc_id, source) lookup side must be column-pruned (no text)
    // and must appear exactly once — a second narrow scan would mean
    // the corpus was consumed per side instead of per pair list
    val narrow = "ReadSchema: struct<doc_id:bigint,source:string>"
    for (q <- Seq(
      graft.operators.Dedup.crossSourceMatrix(Tables.documents(spark, dir)),
      graft.operators.Dedup.nearDupRateBySource(Tables.documents(spark, dir)))) {
      val p = plan(q)
      val n = p.sliding(narrow.length).count(_ == narrow)
      assert(n == 1, s"expected exactly one narrow (doc_id, source) scan, got $n:\n$p")
    }
  }

  test("lastTouchAttribution windows per user and prunes event types at the scan") {
    val p = plan(graft.operators.EventOps
      .lastTouchAttribution(Tables.events(spark, dir)))
    assert(p.contains("windowspecdefinition(user_id"),
      s"the latest-click carry must partition by user:\n$p")
    assert(!p.contains("windowspecdefinition(ts") &&
      !p.contains("SinglePartition, ENSURE_REQUIREMENTS\n   +- Window"),
      s"no global (unpartitioned) window allowed:\n$p")
    assert(p.contains("In(event_type") || p.contains("event_type IN"),
      s"the click/purchase prune must reach the plan's filter:\n$p")
  }

  test("pmiBigrams joins unigram counts via broadcast") {
    val p = plan(graft.operators.TextAnalysis
      .pmiBigrams(Tables.documents(spark, dir)))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      s"both unigram count joins must broadcast, got $broadcasts:\n$p")
  }

  test("sqTopK encode is a pure map: corpus streams past broadcast queries") {
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Similarity.sqTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the corpus stream:\n$p")
    // the only hash exchange is the per-query top-k window — the
    // dequantizing projection itself must add none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly the top-k window exchange, got $exchanges:\n$p")
  }

  test("enrichPointInTime shuffles twice: SCD2 window + as-of union window") {
    val p = plan(graft.operators.EventOps.enrichPointInTime(
      Tables.events(spark, dir)))
    // the version-tie collapse (max_by per (user_id, valid_from)) must
    // ride the SCD2 window's user_id partitioning — an extra exchange
    // there means the aggregate stopped reusing the window's shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected exactly 2 shuffles (dim build + as-of), got $exchanges:\n$p")
  }

  test("boilerplatePrefix reads only text and source, aggregates map-side") {
    val p = plan(graft.operators.TextAnalysis.boilerplatePrefix(
      Tables.documents(spark, dir)))
    assert(p.contains("ReadSchema: struct<text:string,source:string>"),
      s"scan must prune to text + source:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"(source, prefix) counts must pre-aggregate map-side:\n$p")
  }

  test("production SemDeDup pair source is equi-join only (no nested loop)") {
    // the r9 headline claim: dedup_embedding_groups_lsh must never
    // regress to the all-pairs plan its exact oracle anchor uses —
    // candidates meet in (table, sig) bucket equi-joins, so a
    // BroadcastNestedLoopJoin/CartesianProduct anywhere in the pair
    // relation means the scale path silently became O(n²)
    val emb = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Dedup.embeddingPairs(emb, tau = 0.9))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LSH pair source must stay an equi-join plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join:\n$p")
  }

  test("hybrid RRF lexical stage is a token equi-join — never all-pairs") {
    // the lexical retriever must meet candidates in the df-capped
    // posting join; a nested-loop/cartesian anywhere means the text
    // side silently became O(n²) (the dense side's one crossJoin is
    // the broadcast-queries anchor, same as ann_bruteforce_topk)
    val p = plan(graft.operators.Similarity.hybridRrfTopK(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir)))
    assert(!p.contains("CartesianProduct"),
      s"hybrid RRF must not cartesian anywhere:\n$p")
    // exactly the dense anchor's broadcast appears; count the nested
    // loops to pin that the lexical side contributes none
    val nLoops = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nLoops <= 1, s"only the dense query-broadcast may nest-loop ($nLoops):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected posting equi-joins:\n$p")
  }

  test("interleaveOrder windows stay banded — no corpus-wide single partition") {
    // the per-source rank must come from the banded two-phase prefix,
    // never a window over (source) alone: that would funnel each
    // source's entire corpus through one task
    val p = plan(graft.operators.DataSplit.interleaveOrder(
      Tables.documents(spark, dir)))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interleave must stay equi-join only:\n$p")
    val rowNumberSpecs = "row_number.*windowspecdefinition\\(source[^,]*, band".r
    assert(rowNumberSpecs.findFirstIn(p).isDefined,
      s"corpus row_number must partition by (source, band):\n$p")
  }

  test("supplierReliability ships the dim broadcast, one fact aggregate") {
    val p = plan(Analytics.supplierReliability(Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), Tables.supplier(spark, dir)))
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"(n, k) must pre-aggregate map-side:\n$p")
  }

  test("deseasonalizedAnomaly broadcasts the 168-row profile onto the series") {
    val p = plan(graft.operators.EventOps.deseasonalizedAnomaly(
      Tables.events(spark, dir)))
    assert(p.contains("BroadcastHashJoin"),
      s"slot profile must broadcast, not shuffle the hour series:\n$p")
  }

  test("rollingActiveUsers: partial aggs before both exchanges, semi join broadcasts") {
    val p = plan(Analytics.rollingActiveUsers(Tables.events(spark, dir)))
    assert(p.contains("partial_max"),
      s"(day, user) collapse must pre-aggregate map-side:\n$p")
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined,
      s"present-days spine must broadcast into the semi join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here needs a sort join:\n$p")
  }

  test("decileLift ranks within spend bands, never one partition for the rank") {
    val p = plan(Analytics.decileLift(Tables.orders(spark, dir)))
    val rankSpec = "row_number.*windowspecdefinition\\(band".r
    assert(rankSpec.findFirstIn(p).isDefined,
      s"customer rank must partition by spend band:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"band offsets must broadcast onto the spend relation:\n$p")
  }

  test("riAudit anti joins on keys only — child payloads never shuffle") {
    val p = plan(RetailEtl.riAudit(Seq(("li_orders",
      Tables.lineitem(spark, dir), "l_orderkey",
      Tables.orders(spark, dir), "o_orderkey"))))
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined ||
      p.contains("LeftAnti"), s"orphan set must be a LEFT-ANTI join:\n$p")
    // the child scan must read only the FK column
    assert("ReadSchema: struct<l_orderkey:bigint>".r.findFirstIn(p).isDefined,
      s"child scan must prune to the key column:\n$p")
  }

  test("checkConstraints is one scan — a single aggregate, no join, no reshuffle") {
    import org.apache.spark.sql.functions.col
    val p = plan(RetailEtl.checkConstraints(Tables.lineitem(spark, dir),
      Seq(("q", col("l_quantity") > 0), ("d", col("l_discount") <= 0.1))))
    assert(!p.contains("Join"), s"rules must fold into one pass:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"exactly one scan expected:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"rule counters must pre-aggregate map-side:\n$p")
  }

  test("copurchaseTriangles closes triangles with equi-joins, never a nested loop") {
    val p = plan(Analytics.copurchaseTriangles(
      SharedTrunks.basketPairs(Tables.lineitem(spark, dir))))
    // the oriented a<b edge list makes both the wedge join and the
    // closure probe hash-joinable; a BNLJ here is the O(n²) failure
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"triangle census must stay equi-join only:\n$p")
  }

  test("groupAssign broadcasts the O(groups) assignment — rows never shuffle") {
    val p = plan(graft.operators.DataSplit.groupAssign(
      Tables.documents(spark, dir), "source",
      Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)))
    assert(p.contains("BroadcastHashJoin"),
      s"group assignment must broadcast-join back:\n$p")
    // only the distinct-groups relation may exchange; the doc rows
    // flow scan → broadcast-probe → project
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"doc rows must not shuffle:\n$p")
  }

  test("revenueAutocorr: day-grain collapse happens before the lag fan-out") {
    val p = plan(Analytics.revenueAutocorr(Tables.lineitem(spark, dir)))
    // post-checkpoint plan: the lag join consumes the pinned day
    // relation — the fact table is not re-scanned per lag
    assert("Scan parquet".r.findAllIn(p).length == 0,
      s"lag join must run on the checkpointed day grain:\n$p")
  }

  test("sourceDivergence derives term totals from the (source, term) relation — one corpus tokenize") {
    val p = plan(graft.operators.TextAnalysis.sourceDivergence(
      Tables.documents(spark, dir)))
    // the corpus text is tokenized exactly once: the only parquet
    // scans of documents feed the checkpointed (source, term) count
    assert("Scan parquet".r.findAllIn(p).length == 0 ||
      !p.contains("explode"), // post-checkpoint plan: no re-explode
      s"term totals must re-aggregate the counted relation:\n$p")
  }

  // ---- r10 operators -------------------------------------------------

  test("kmeansAssign output plan: codegen'd argmax projection, no vector shuffle") {
    val p = plan(graft.operators.Similarity.kmeansAssign(
      Tables.embeddings(spark, dir), k = 4, iters = 1))
    // the assignment is scan → project(nearest_centroids) — the
    // centroid table rides as a codegen reference object, so the
    // final pass has NO join and NO exchange at all
    assert(p.contains("nearest_centroids"), s"expected native argmax:\n$p")
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no centroid lookup join:\n$p")
  }

  test("labelOutliers broadcasts the centroid relation; one corpus aggregate") {
    val p = plan(graft.operators.Similarity.labelOutliers(
      Tables.embeddings(spark, dir)))
    assert(p.contains("BroadcastHashJoin"),
      s"centroids must broadcast:\n$p")
    // exchanges: centroid aggregate + the per-vector aggregate —
    // never a shuffle of the corpus for the join itself
    assert(!p.contains("SortMergeJoin"), s"no sort-merge of vectors:\n$p")
  }

  test("markovAttribution fact pass: per-user windows, transition agg partials") {
    val e = Tables.events(spark, dir)
    val p = plan(graft.operators.EventOps.markovAttribution(e))
    // the RESULT is a driver-built O(channels) relation — the plan
    // of the returned frame must be a LocalTableScan (all heavy work
    // happened in the one windowed pass that produced the counts)
    assert(p.contains("LocalTableScan"), s"driver-built readout:\n$p")
  }

  test("abSrmCheck: one distinct-aggregate pass, no window, no join") {
    val p = plan(graft.operators.EventOps.abSrmCheck(
      Tables.events(spark, dir)))
    assert(!p.contains("Window"), s"no window needed:\n$p")
    assert(!p.contains("Join"), s"no join needed:\n$p")
    assert(p.contains("partial_count"),
      s"distinct count must run map-side partials:\n$p")
  }

  test("sampleEstimate: single pass — exact and sampled sums share one aggregate") {
    val p = plan(graft.operators.Sampling.sampleEstimate(
      Tables.lineitem(spark, dir), "l_orderkey",
      org.apache.spark.sql.functions.col("l_extendedprice"),
      "l_returnflag"))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one scan for both estimator and audit:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"one aggregate exchange:\n$p")
  }

  test("bm25 stage-1 fan-out is champion-bounded — never 0.9·N per token") {
    val p = plan(graft.operators.Similarity.bm25TopK(
      SharedTrunks.bm25Postings(Tables.documents(spark, dir))))
    // the r10 scale-killer: candidate generation joining full
    // fractional-cap postings fans each hot token out to 0.9·N rows.
    // The plan must carry the stratified champion index instead — a
    // row_number window partitioned by (tok, salt) whose rank filter
    // bounds per-token candidates to a CONSTANT before any
    // query-side join sees the postings
    val champWindow = "row_number.*windowspecdefinition\\(tok[^,]*, salt".r
    assert(champWindow.findFirstIn(p).isDefined,
      s"stage-1 must read (tok, salt)-stratified champion lists:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs anywhere:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected posting equi-joins:\n$p")
  }

  test("stream abDailyPartials: windowed partial aggregation, O(types·days) state") {
    val p = plan(graft.streaming.EventStream.abDailyPartials(
      Tables.events(spark, dir)))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"map-side partials expected:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"one shuffle on (window, type):\n$p")
  }

  test("dupNgramDocs: occurrences explode ONCE, dup test is a window, no semi-join") {
    val p = plan(graft.operators.TextAnalysis.dupNgramDocs(
      Tables.documents(spark, dir)))
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"the n-gram explode must run once (the rejected dup-set + " +
        s"semi-join plan re-explodes the corpus):\n$p")
    assert(p.contains("Window ["), s"min/max-over-ng window expected:\n$p")
    assert(!p.contains("LeftSemi"), s"no semi-join probe:\n$p")
  }

  test("dupLineRemoval: lines explode once, keep-first is one window pass") {
    val p = plan(graft.operators.TextAnalysis.dupLineRemoval(
      graft.operators.TextAnalysis.synthLinedCorpus(
        Tables.documents(spark, dir), keep = Seq("source"))))
    assert("Generate posexplode".r.findAllIn(p).length == 1,
      s"the line explode must run once:\n$p")
    assert(p.contains("row_number()"), s"keep-first row_number expected:\n$p")
  }

  test("fileSkipping: both layout manifests ride ONE fact scan") {
    val o = Tables.orders(spark, dir)
    val p = plan(graft.sources.Lake.fileSkipping(
      o.selectExpr("o_custkey % 65536 AS cust16",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') % 65536 AS BIGINT)" +
          " AS day16"),
      Seq("cust16", "day16")))
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"per-row layout explode must share one scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"probe cross must broadcast the stat rows:\n$p")
  }

  test("embeddingIncremental: corpus streams, the NEW batch broadcasts") {
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Dedup.embeddingIncremental(
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 3),
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 10 =!= 3),
      tau = 0.4))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"the new batch must be the broadcast build side:\n$p")
  }

  // r13 scale shapes

  test("dupSpans: islands + span index ride ONE doc_id exchange above the trunk") {
    val ta = graft.operators.TextAnalysis
    val toks = ta.dupNgramToks(Tables.documents(spark, dir))
    val p = plan(ta.dupSpans(Tables.documents(spark, dir),
      ta.dupNgramStarts(toks)))
    // exchanges: the n-gram window (trunk), the starts fold, and the
    // doc_id window the islands/group/span-index chain SHARES — the
    // subset-key reuse means no fourth hash exchange appears
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 3, s"expected <=3 hash exchanges (trunk window, " +
      s"starts fold, one shared doc window), got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("Generate explode".r.findAllIn(p).length == 2,
      s"one gram explode (trunk) + one position explode:\n$p")
  }

  test("dupNgramGate / dupSpanScrub: the store BROADCASTS, never sort-merges") {
    val docs = Tables.documents(spark, dir)
    val store = graft.operators.TextAnalysis.dupNgramStore(docs)
    Seq(
      graft.streaming.DocStream.dupNgramGate(docs, store),
      graft.streaming.DocStream.dupSpanScrub(docs, store)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"store probe must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the corpus side must never shuffle for the store:\n$p")
    }
  }

  // r14 scale shapes

  test("curateFull recomposition: the r14 gates add ZERO corpus scans") {
    // with the four trunks threaded as pinned relations (the driver
    // shape), every r14 gate — Gopher 20-threshold, corpus-dup
    // fraction, residual billing — must read `Scan ExistingRDD`
    // rows, never a new parquet pass: the documents table is scanned
    // exactly as often as the r13 composition scanned it (scored
    // tokenization, exact-dedup norm, decontamination grams, and the
    // restrict/doc_id projections — 8 column-pruned scans measured).
    val ta = graft.operators.TextAnalysis
    val docs = Tables.documents(spark, dir)
    val shingles = graft.operators.Dedup.blockingTrunk(docs)
      .sets.localCheckpoint(true)
    val gf = ta.gopherFlagged(ta.synthQualityCorpus(docs))
      .localCheckpoint(true)
    val occ = ta.dupNgramDupOcc(ta.dupNgramToks(docs)).localCheckpoint(true)
    val dd = ta.dupNgramDocsOf2(ta.dupNgramToks(docs), ta.startsOfOcc(occ))
      .localCheckpoint(true)
    val flags = graft.operators.Curation.curateFlags(docs, gopherFlags = gf,
      dupDocs = dd, dupStarts = ta.startsOfOcc(occ),
      embeddings = Tables.embeddings(spark, dir))
    val p = plan(graft.operators.Curation.curateFull(docs,
      SharedTrunks.pin(flags), shingles))
    // ≤ 8 documents scans (the r13 budget) + the semantic stage's
    // two embeddings scans (bench + corpus sides of the broadcast)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 10, s"the recomposition must not add corpus scans " +
      s"(r13 budget 8 + 2 embeddings sides), got $scans:\n$p")
    // the gate trunks arrive pinned: no Gopher metric kernel and no
    // corpus 8-gram window may appear in the composition's own plan
    assert(!p.contains("stop_word_hits"),
      s"Gopher metrics must come from the pinned trunk, not recompute:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"pinned trunks must appear as ExistingRDD scans:\n$p")
  }

  test("curateFull over the pinned flags relation: the gate chain never recomputes") {
    // r15 driver shape: BOTH composition keys read the one pinned
    // curateFlags materialization, so a key's own plan holds only
    // its set-shaped stages (suppress → cap → budget) — no Gopher
    // kernel, no corpus tokenization, no gram window, and the
    // documents table appears only as the restrict/source
    // projections (id + source columns)
    val docs = Tables.documents(spark, dir)
    val flags = SharedTrunks.curateFlags(docs, Tables.embeddings(spark, dir),
      SharedTrunks.gopherFlagged(docs))
    val shingles = SharedTrunks.shingles(docs)
    val p = plan(graft.operators.Curation.curateFull(docs, flags, shingles))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 4, s"flags-threaded curateFull may read documents " +
      s"only for restrict/source projections, got $scans scans:\n$p")
    assert(!p.contains("stop_word_hits"),
      s"Gopher metrics must never recompute off the pinned flags:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the pinned flags must appear as an ExistingRDD scan:\n$p")
  }

  test("semanticDecontaminate: the benchmark broadcasts, the corpus never shuffles") {
    val e = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.Dedup.semanticDecontaminate(e))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"the benchmark slice must be the broadcast build side:\n$p")
    // the one permitted sort-merge is the final id-grain rejoin of
    // the per-vec fold onto the corpus ids (8-byte keys) — the
    // EMBEDDINGS themselves must only ever meet in the broadcast
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"only the id-grain rejoin may sort-merge:\n$p")
  }

  test("audioWinnowPairs (exact tier): one fingerprint exchange, no join at all") {
    import spark.implicits._
    // threaded signatures (the store shape): candidates form in
    // equi-buckets via ONE groupBy on the fingerprint value and
    // expand row-locally — no join node, no cartesian anywhere
    val sigs = (0L until 40L).map(d => (d, d % 7)).toDF("doc_id", "wsig")
    val p = plan(graft.operators.Multimodal.audioWinnowPairs(sigs))
    assert(!p.contains("Join"), s"exact tier must not plan any join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  // r18 pins: the r17 perf fixes' shapes, asserted so they can't
  // silently regress (r17 verdict #3)

  test("rtbfMlPlan: each store is scanned ONCE (presence-marker " +
    "aggregate), requests broadcast") {
    import spark.implicits._
    // in-memory request sets so every FileScan in the plan is a
    // STORE read — the pin is "one scan per store per readout"
    val reqDocs = Seq(1L, 2L).toDF("doc_id")
    val reqVecs = Seq(3L).toDF("vec_id")
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val p = plan(graft.operators.MlErasure.rtbfMlPlan(
      reqDocs, reqVecs,
      docs.select("doc_id"), docs.select("doc_id"), emb.select("vec_id")))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 3,
      s"3 stores must plan exactly 3 scans (one each), got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the request set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a store must never shuffle against the request set:\n$p")
  }

  /** True iff some aggregate whose GROUPING KEYS include `valueKey`
    * carries an HLL buffer — the Expand×HLL trap's signature: a
    * sketch allocated per distinct value and shipped through the
    * value-grain exchange (r17 SCALING.md; the r18 adjudication
    * measured it at 2-2.6× on three keys). */
  private def hllAtValueGrain(p: String, valueKey: String): Boolean =
    p.linesIterator.exists { l =>
      val i = l.indexOf("HashAggregate(keys=[")
      i >= 0 && {
        val end = l.indexOf("]", i)
        val keys = if (end > i) l.substring(i, end) else l
        keys.contains(valueKey) && l.contains("approx_count_distinct")
      }
    }

  test("dqCalibrationOneScan: ONE scan, no Expand, two-level grain " +
    "(no sketch buffers at the value grain)") {
    val p = plan(RetailEtl.dqCalibrationOneScan(Tables.lineitem(spark, dir),
      Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")))
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"the one-scan form must scan once:\n$p")
    assert(!p.contains("Expand"),
      s"no Expand — the Expand x HLL trap (r17 SCALING.md):\n$p")
    // two-level grain: the (col_name, v) collapse exchanges partial
    // COUNTS only; the HLL may exist only at the col_name grain
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, s"expected the two grain exchanges only:\n$p")
    assert(!hllAtValueGrain(p, "v#"),
      s"value-grain aggregate must not carry HLL buffers:\n$p")
  }

  test("stream dq/sliding calibrations: two-level grain — no sketch " +
    "buffers at the value grain (the r16 fusion cannot come back)") {
    val ev = Tables.events(spark, dir)
    val dq = plan(graft.streaming.EventStream.dqStateCalibration(ev,
      Seq("user_id", "event_type", "value")))
    assert(!dq.contains("Expand"), s"no Expand x HLL:\n$dq")
    assert(!hllAtValueGrain(dq, "v#"),
      s"dq value-grain aggregate must not carry HLL buffers:\n$dq")
    val sla = plan(graft.streaming.EventStream.slidingActivesCalibration(ev))
    // the ONE Expand here is the sliding window()'s 7-way fan-out
    // (inherent to the semantics); the trap signature is the HLL
    // riding an aggregate keyed by user_id
    assert("Expand".r.findAllIn(sla).length == 1,
      s"only the window fan-out may Expand:\n$sla")
    assert(!hllAtValueGrain(sla, "user_id#"),
      s"(window, user) grain must not carry HLL buffers:\n$sla")
    Seq(dq, sla).foreach(p =>
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
        s"two grain exchanges only (value collapse + rollup):\n$p"))
  }

  test("qualityDrift: every exchange is count-grain, documents never shuffle") {
    val ta = graft.operators.TextAnalysis
    val p = plan(ta.qualityDrift(ta.gopherFlagged(
      ta.synthQualityCorpus(Tables.documents(spark, dir)))))
    // two exchanges, BOTH post-partial-aggregation: the (metric,
    // bucket) agg moves map-side partials (≤ grid-size rows per
    // task) and the metric window moves the ~40 final count rows —
    // the per-doc metric rows themselves never cross the wire
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, s"expected agg + window exchanges only:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"map-side partials must precede the agg exchange:\n$p")
  }
}
