package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{gf, TextHashes}

/** Count-Min sketch over the corpus token stream — the third
  * mergeable sketch beside HLL (reach) and Misra-Gries (heavy
  * hitters): point-queryable frequency estimates from O(depth·width)
  * counters, one-sided error (never an undercount), bucket-wise
  * ADDITIVE across shards/days (the property that makes it a lake
  * artifact: per-partition sketches union by summing counters, no
  * raw recount).
  *
  * Scale shape: the build is ONE projection (token → depth bucket
  * ids, all codegen'd FNV + multiply-shift arithmetic) and ONE
  * aggregate whose map-side combine caps every partition's shuffle
  * contribution at depth·width rows — the shuffle volume is
  * O(partitions · depth · width) REGARDLESS of corpus size, which is
  * the entire point at 100 TB: exact vocabulary counting shuffles
  * the vocabulary (billions of keys, skewed); the sketch shuffles
  * 4096 counters per partition, full stop. Guarantee: est − true ≤
  * e·N/width with probability ≥ 1 − e^−depth per key (Cormode &
  * Muthukrishnan 2005).
  *
  * Determinism: key hash = the corpus-wide FNV-1a token fingerprint
  * ([[gf.hash64]]); row r's bucket = unsigned(a_r·h + b_r mod 2⁶⁴)
  * mod width with (a_r, b_r) from the SAME splitmix64 derivation the
  * minhash permutations use — both replay verbatim in the DuckDB
  * oracle's HUGEINT arithmetic (width is a power of two, so the
  * unsigned mod is a bit-mask on the signed long too).
  */
object CountMin {

  val Depth = 4
  val Shift = 54
  val Width: Int = 1 << (64 - Shift) // 1024
  val Seed = 1337L

  /** Row-seeded multiply-shift constants, the minhash permutation
    * derivation (a odd so the map is a bijection mod 2⁶⁴). */
  def rowConsts: Seq[(Long, Long)] =
    (0 until Depth).map { r =>
      (TextHashes.splitmix64(Seed + 2L * r) | 1L,
        TextHashes.splitmix64(Seed + 2L * r + 1L))
    }

  /** `array(bucket_0 … bucket_{depth−1})` of a 64-bit key hash —
    * the TOP 10 bits of each wraparound product (Dietzfelbinger
    * multiply-shift; a low-bit mask would make every row collide on
    * the same low-bit classes of the key hash, collapsing the
    * depth-wise independence the min needs). */
  private def bucketsOf(h: Column): Column =
    array(rowConsts.map { case (a, b) =>
      gf.cmsBucket(h, a, b, Shift)
    }: _*)

  /** One token instance per row, lowercased — the same tokenization
    * every text operator here uses. */
  private def instances(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(gf.lowerText(col("text")))).as("tok"))

  /** The sketch relation: (r, bucket, cnt), ≤ depth·width rows.
    * Build = one codegen'd projection + one partial-aggregable
    * groupBy; merging two corpora's sketches is a bucket-wise sum
    * (spec-held). */
  def sketch(docs: DataFrame): DataFrame =
    instances(docs)
      .select(posexplode(bucketsOf(gf.hash64(col("tok"))))
        .as(Seq("r", "bucket")))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Readout: the exact top-k tokens (the tracked set a production
    * pipeline would get from a Misra-Gries pass) with their CMS
    * estimate and the realized overcount — est ≥ exact always, and
    * the overcount column is the sketch's measured error, not a
    * model. The probe side is k·depth rows against the ≤ depth·width
    * sketch: broadcast-sized both ways.
    *
    * `sketched` is the already-materialized [[sketch]] relation of
    * `docs` (the pinned-shared-relation convention — cf. knScore's
    * pinned `b` and the sharedEntity* chain), so the corpus pays ONE
    * tokenize+explode pass here: the exact-counts side. */
  def topTokenEstimates(docs: DataFrame, sketched: DataFrame,
                        k: Int = 30): DataFrame = {
    val exact = instances(docs)
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val top = exact.orderBy(col("exact_cnt").desc, col("tok")).limit(k)
    val probes = top
      .select(col("tok"), col("exact_cnt"),
        posexplode(bucketsOf(gf.hash64(col("tok")))).as(Seq("r", "bucket")))
    probes.join(sketched, Seq("r", "bucket"))
      .groupBy("tok", "exact_cnt")
      .agg(min("cnt").as("cms_est"))
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
  }
}
