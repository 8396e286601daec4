package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Entity resolution / master-data-management over the customer
  * dimension — the retail warehouse's "same customer, four feeds"
  * problem (the reference's cleaning step, scripts/transform.py,
  * stops at per-row normalization; this family is the cross-ROW
  * identity layer a production CRM consolidation adds on top):
  * normalize → block → bounded fuzzy match → transitive closure →
  * survivorship.
  *
  * Scale shape (the reason each stage looks the way it does):
  *   - BLOCKING makes the candidate space O(Σ block²) instead of
  *     O(n²): records only ever compare within their 6-char
  *     normalized-name prefix block. Blocks are uniform here (the
  *     prefix encodes the two lowest custkey digits), but a
  *     production name corpus has hot prefixes ("john s…"), so the
  *     pairing tiers carry a `maxBlock` CAP (r16, the winnow tiers'
  *     maxBucket precedent): only the `maxBlock` smallest rec_ids
  *     of a block participate in pairing, bounding candidate volume
  *     to O(maxBlock²) per block with a deterministic survivor
  *     subset — EntityResolutionSpec plants a 1000-record hot block
  *     and asserts the bound. Membership/survivorship always read
  *     the FULL record set; only pair generation is capped.
  *   - The LENGTH BAND (|len_a − len_b| ≤ maxLev) is a free
  *     pre-filter: Levenshtein distance is bounded below by the
  *     length gap, so the band drops most of each block before any
  *     edit-distance work, and it pushes into the join condition.
  *   - The THRESHOLDED Levenshtein (Spark's 3-arg `levenshtein`)
  *     abandons a pair the moment its running distance exceeds
  *     `maxLev` — O(maxLev·len) per comparison, not O(len²).
  *   - The CLOSURE reuses [[Dedup.dedupGroups]]' adaptive
  *     pointer-doubling label propagation: O(log diameter) rounds.
  *   - SURVIVORSHIP is one partial-aggregable `groupBy(entity)`
  *     with a struct-min (source priority, then record id) — no
  *     window, no sort, map-side combinable at any corpus size.
  */
object EntityResolution {

  /** Name syllables: one per decimal digit. The 30 symbols are
    * globally DISTINCT across the three positions, so two distinct
    * syllables differ in all three characters — names of two
    * distinct customers are ≥ 3 edits apart, while the planted
    * single-deletion typos are exactly 1. That separation is what
    * lets the `maxLev = 1` matcher be provably false-positive-free
    * on this corpus (EntityResolutionSpec brute-checks it). */
  val Syllables: Seq[String] =
    Seq("ba0", "ce1", "di2", "fo3", "gu4", "hy5", "jr6", "ks7", "lt8", "mw9")

  /** Deterministic dirty-CRM corpus derived from `customer`: each
    * customer's canonical name encodes its custkey digit-by-digit
    * (REVERSED, so the name prefix carries the high-entropy low
    * digits and prefix blocking gets uniform blocks), and a subset
    * of customers ship noisy duplicate records:
    *
    *   - rec_id = 4k   `crm`    the canonical record
    *   - rec_id = 4k+1 `web`    (k % 5 == 2) case/whitespace noise —
    *                            normalization alone recovers it
    *   - rec_id = 4k+2 `pos`    (k % 3 == 1) one char DELETED from
    *                            the last syllable (edit distance 1),
    *                            stale nationkey, rounded balance
    *   - rec_id = 4k+3 `legacy` (k % 6 == 1) a deletion of the
    *                            DELETION (distance 1 from `pos`,
    *                            2 from the canonical record) — only
    *                            the transitive closure unites it
    *
    * Typos live in the LAST syllable (positions 16..18) so the
    * 6-char blocking prefix stays clean — the standard
    * sorted-neighborhood assumption that errors concentrate late in
    * strings, and the reason prefix blocking is usable at all. */
  def synthCrmCorpus(customer: DataFrame): DataFrame = {
    val syl = array(Syllables.map(lit): _*)
    // lpad silently TRUNCATES to 6 chars once custkey has 7+ digits
    // (TPC-H SF ≳ 6.7): distinct customers would collide on
    // identical canonical names and the "distinct customers are
    // ≥ 3 edits apart" guarantee would silently fail at scale — so
    // the encoding fails LOUDLY instead (r16, ADVICE). Distributed
    // guard, no extra job; the oracle replays only the guarded range.
    val guarded = when(col("c_custkey") >= 1000000L,
      raise_error(concat(lit("synthCrmCorpus: c_custkey "),
        col("c_custkey").cast("string"),
        lit(" has 7+ digits — the 6-syllable name encoding would " +
          "collide; widen the pad and the oracle in lockstep"))))
      .otherwise(col("c_custkey"))
    val rev = reverse(lpad(guarded.cast("string"), 6, "0"))
    val nameCol = concat((1 to 6).map(i =>
      element_at(syl, substring(rev, i, 1).cast("int") + 1)): _*)
    val named = customer.select(
      col("c_custkey").as("k"),
      nameCol.as("name"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_acctbal").as("bal"))
    // delete character 17 (middle of the trailing syllable)
    def delAt17(c: Column) = concat(substring(c, 1, 16), substring(c, 18, 64))
    val v1Name = delAt17(col("name"))
    val base = named.select((col("k") * 4).as("rec_id"),
      col("name").as("raw_name"), lit("crm").as("src"),
      col("nat").as("nationkey"), col("bal").as("acctbal"))
    val web = named.filter(col("k") % 5 === 2)
      .select((col("k") * 4 + 1).as("rec_id"),
        concat(lit("  "), gf.upperText(col("name")), lit(" ")).as("raw_name"),
        lit("web").as("src"), col("nat").as("nationkey"),
        col("bal").as("acctbal"))
    val pos = named.filter(col("k") % 3 === 1)
      .select((col("k") * 4 + 2).as("rec_id"), v1Name.as("raw_name"),
        lit("pos").as("src"), ((col("nat") + 1) % 25).as("nationkey"),
        round(col("bal")).as("acctbal"))
    val legacy = named.filter(col("k") % 6 === 1)
      .select((col("k") * 4 + 3).as("rec_id"), delAt17(v1Name).as("raw_name"),
        lit("legacy").as("src"), ((col("nat") + 1) % 25).as("nationkey"),
        round(col("bal")).as("acctbal"))
    base.unionByName(web).unionByName(pos).unionByName(legacy)
  }

  /** Shared normalization: lower + whitespace collapse + trim — the
    * same convention every text operator here uses, so `web`-feed
    * case/padding noise disappears before any distance is paid. */
  def normName(raw: Column): Column =
    gf.lowerText(trim(regexp_replace(raw, "\\s+", " ")))

  private def normalized(recs: DataFrame): DataFrame =
    recs.select(col("rec_id"), normName(col("raw_name")).as("norm"))
      .withColumn("block", substring(col("norm"), 1, 6))
      .withColumn("len", length(col("norm")))

  /** Deterministic block cap (r16, the winnow maxBucket precedent):
    * only the `maxBlock` smallest rec_ids of each block participate
    * in pairing, bounding a hot prefix ("john s…") to O(maxBlock²)
    * candidates instead of O(block²). The window shuffles on the
    * same `block` key the pair join shuffles on, so the cap rides
    * the partitioning the join needs anyway. */
  private def capBlocks(n: DataFrame, maxBlock: Int): DataFrame =
    n.withColumn("bn", row_number().over(
        Window.partitionBy("block").orderBy("rec_id")))
      .filter(col("bn") <= maxBlock).drop("bn")

  /** Pigeonhole pre-filter for `lev ≤ 1` (PassJoin's partition rule
    * at maxLev=1), over the records' first and last 8 characters:
    * ONE edit leaves either the first 8 or the last 8 characters
    * untouched (an edit at position p shares the p−1-char prefix and
    * the end-aligned suffix beyond it; for `max(len) ≥ 16`, one of
    * the two is ≥ 8). Two codegen'd string equalities replace the
    * O(len·band) DP on the overwhelming majority of block candidates
    * — distinct customers differ in the MIDDLE syllables, so both
    * probes miss. EXACT: a necessary condition only (the survivors
    * still score real Levenshtein), guarded to maxLev=1 and
    * longer-side ≥ 16 (shorter strings pass straight to the DP — an
    * edit can touch both 8-grams). The ONE site that owns the
    * 16-char guard and the prefix-or-suffix disjunction. */
  private def levOneGramPrefilter(p8a: Column, p8b: Column,
                                  s8a: Column, s8b: Column,
                                  lenA: Column, lenB: Column): Column =
    when(greatest(lenA, lenB) < 16, lit(true))
      .otherwise(p8a === p8b || s8a === s8b)

  /** The 8-grams of [[levOneGramPrefilter]] PRECOMPUTED per record
    * (columns `p8`/`s8`) — the per-pair work is then two binary
    * comparisons instead of four substring allocations, which
    * matters when the block join fans out to millions of
    * candidates. */
  private def withLevOneGrams(n: DataFrame): DataFrame =
    n.withColumn("p8", substring(col("norm"), 1, 8))
      .withColumn("s8", substring(col("norm"), -8, 8))

  /** Blocked fuzzy match: within each block, pairs inside the
    * length band score a THRESHOLDED Levenshtein; `lev ≤ maxLev`
    * matches, labeled `exact_norm` when normalization alone closed
    * the gap. Output: (rec_a, rec_b, lev, rule), rec_a < rec_b.
    * `maxBlock` caps each block's participants (see [[capBlocks]]);
    * at maxLev=1 the [[levOneGramPrefilter]] prunes candidates before
    * the DP (result-identical — spec-held). */
  def entityPairs(recs: DataFrame, maxLev: Int = 1,
                  maxBlock: Int = 256): DataFrame = {
    val n0 = capBlocks(normalized(recs), maxBlock)
    val n = if (maxLev == 1) withLevOneGrams(n0) else n0
    def side(sfx: String) = n.select(
      n.columns.map(c => col(c).as(if (c == "block") c else s"${c}_$sfx")): _*)
    val (a, b) = (side("a"), side("b"))
    val pre = if (maxLev != 1) lit(true)
      else levOneGramPrefilter(col("p8_a"), col("p8_b"),
        col("s8_a"), col("s8_b"), col("len_a"), col("len_b"))
    a.join(b, Seq("block"))
      .filter(col("rec_id_a") < col("rec_id_b") &&
        abs(col("len_a") - col("len_b")) <= maxLev && pre)
      .select(col("rec_id_a").as("rec_a"), col("rec_id_b").as("rec_b"),
        levenshtein(col("norm_a"), col("norm_b"), maxLev).cast("long").as("lev"))
      .filter(col("lev") >= 0)
      .withColumn("rule",
        when(col("lev") === 0, lit("exact_norm")).otherwise(lit("fuzzy")))
  }

  /** Transitive closure of the match pairs — entity_id is the
    * smallest member rec_id; `keep` marks the labeling survivor.
    * The closure is [[Dedup.dedupGroups]]' pointer-doubling pass. */
  def entityGroups(recs: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.dedupGroups(
      recs.select(col("rec_id").as("doc_id")),
      pairs.select(col("rec_a").as("id_a"), col("rec_b").as("id_b")))
      .select(col("doc_id").as("rec_id"), col("group_id").as("entity_id"),
        col("keep"))

  /** The persisted ENTITY STORE an incremental pass probes: every
    * resolved record with its normalized name, blocking key, and
    * entity label — what the nightly closure writes out. */
  def entityStore(recs: DataFrame, groups: DataFrame): DataFrame =
    normalized(recs).join(groups.select("rec_id", "entity_id"), "rec_id")

  /** Incremental attach — the daily-ingest twin of the batch chain
    * (the `dedup_incremental` economics applied to MDM): arriving
    * records match against the persisted store ONLY (delta ×
    * store-within-block; the store never re-pairs against itself),
    * each attaching to the SMALLEST matched entity label or founding
    * a new entity under its own rec_id (`is_new`). Within-batch
    * duplicates deliberately do NOT resolve against each other —
    * two records of one unseen customer arriving in the same batch
    * found two entities, and the nightly closure merges them; that
    * deferral is what keeps the intake path O(delta · block) with
    * zero cross-delta work, the correct trade at ingest rates. */
  def attachToStore(delta: DataFrame, store: DataFrame,
                    maxLev: Int = 1, maxBlock: Int = 256): DataFrame = {
    // grams precomputed per RECORD (r18 review, the entityPairs
    // discipline): the delta × store-within-block join is exactly
    // the fan-out shape the precomputed form exists for (history >>
    // delta, up to maxBlock store rows per delta record) — two
    // binary compares per candidate instead of four substring
    // evaluations inside the join condition
    val withGrams = (n: DataFrame) =>
      if (maxLev == 1) withLevOneGrams(n) else n
    def gramCols(sfx: String) = if (maxLev == 1)
      Seq(col("p8").as(s"p8_$sfx"), col("s8").as(s"s8_$sfx")) else Nil
    val d = withGrams(normalized(delta)).select(col("rec_id") +:
      col("norm").as("norm_d") +: col("block") +:
      col("len").as("len_d") +: gramCols("d"): _*)
    // the store side carries the hot-prefix hazard (history >> delta)
    // — cap its per-block participants like the batch pairing tier
    val s = withGrams(capBlocks(store.select(col("rec_id"), col("norm"),
        col("block"), col("len"), col("entity_id")), maxBlock))
      .select(col("norm").as("norm_s") +: col("block") +:
        col("len").as("len_s") +: col("entity_id").as("store_entity") +:
        gramCols("s"): _*)
    val pre = if (maxLev != 1) lit(true)
      else levOneGramPrefilter(col("p8_d"), col("p8_s"),
        col("s8_d"), col("s8_s"), col("len_d"), col("len_s"))
    d.join(s,
        d("block") === s("block") &&
          abs(col("len_d") - col("len_s")) <= maxLev && pre &&
          levenshtein(col("norm_d"), col("norm_s"), maxLev) >= 0,
        "left")
      .groupBy(d("rec_id"))
      .agg(min("store_entity").as("matched"))
      .select(col("rec_id"),
        coalesce(col("matched"), col("rec_id")).as("entity_id"),
        col("matched").isNull.as("is_new"))
  }

  /** Source trust order for survivorship: the operational system of
    * record wins, the decaying feeds lose. */
  private val srcPriority: Column =
    when(col("src") === "crm", 0)
      .when(col("src") === "web", 1)
      .when(col("src") === "pos", 2)
      .otherwise(3)

  /** Survivorship: per entity, the golden record is the minimum
    * (source priority, rec_id) member — its name/nation/balance are
    * the canonical fields — plus the merge diagnostics a steward
    * reads: member/source counts, whether the feeds DISAGREE on
    * nationkey, and the max balance seen across feeds. One
    * partial-aggregable groupBy; the struct-min is the whole
    * "pick the survivor" rule, no window, no sort. */
  def goldenRecords(recs: DataFrame, groups: DataFrame): DataFrame =
    recs.join(groups, "rec_id")
      .select(col("entity_id"),
        struct(srcPriority.as("p"), col("rec_id"),
          normName(col("raw_name")).as("name"), col("nationkey"),
          col("acctbal")).as("m"),
        col("src"), col("nationkey"), col("acctbal"))
      .groupBy("entity_id")
      .agg(min("m").as("g"),
        count(lit(1)).as("n_members"),
        countDistinct("src").as("n_sources"),
        (max("nationkey") =!= min("nationkey")).as("nation_conflict"),
        round(max("acctbal"), 2).as("acctbal_max"))
      .select(col("entity_id"), col("g.rec_id").as("golden_rec"),
        col("g.name").as("name"), col("g.nationkey").as("nationkey"),
        round(col("g.acctbal"), 2).as("acctbal"),
        col("n_members"), col("n_sources"), col("nation_conflict"),
        col("acctbal_max"))
}
