package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The sampling keys (`sample_*`, `split_*`): uniform, weighted and
  * mixture samples, and train/val/test splits. */
private[graft] object SamplingKeys extends Family("sample_", "split_") {

  lazy val sampleUniformK: Key = Key("sample_uniform_k")((s, dir) =>
    Sampling.uniformKPerStratum(Tables.documents(s, dir), "doc_id", "source", k = 5)
      .select("source", "sample_rank", "doc_id"))(
    """WITH r AS (SELECT source, doc_id, row_number() OVER (
      |  PARTITION BY source
      |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8), doc_id
      | ) AS sample_rank FROM documents)
      |SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
      |FROM r WHERE sample_rank <= 5""")

  lazy val keys: Seq[Key] = Seq(
    Key("split_assign")((s, dir) =>
      DataSplit.assign(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split")) {
      // the xxhash64 fast-path split replayed (r10): h = xx64(42,
      // xx64(doc_id, 42)), u = (h >>> 11)/2⁵³, cuts embedded as the
      // exact cumulative-weight doubles the Scala scanLeft produces
      val (f1, h1) = Xx64Sql.hashLong("a", "CAST(doc_id AS HUGEINT)", "42")
      val (f2, h2) = Xx64Sql.hashLong("b", "42", h1)
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail
      s"""SELECT doc_id,
         | CASE WHEN u < ${cuts(0)} THEN 'train'
         |  WHEN u < ${cuts(1)} THEN 'val' ELSE 'test' END AS split
         |FROM documents, $f1, $f2,
         | LATERAL (SELECT CAST(($h2) // 2048 AS DOUBLE)
         |   / 9007199254740992.0 AS u) uu"""
    },
    Key("split_kfold")((s, dir) =>
      DataSplit.kfold(Tables.documents(s, dir))
        .select("doc_id", "source", "fold"))(
      // 5 equal hex-range cuts of md5(doc_id || ':cv42')
      """SELECT doc_id, source,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '33333333' THEN 0
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '66666666' THEN 1
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '99999999' THEN 2
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < 'cccccccc' THEN 3
        |      ELSE 4 END::BIGINT AS fold
        |FROM documents"""),
    // 0.8/0.1/0.1: the cumulative cuts 0.8 and 0.9 are IEEE-exact
    // (0.8+0.1 == 0.9 bit-for-bit), so the Scala scanLeft sums equal
    // the oracle's literals and floor(cut·n) can never straddle
    Key("split_stratified")((s, dir) =>
      DataSplit.stratifiedSplit(Tables.documents(s, dir), "doc_id", "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))(
      // same portable md5 rank; quota cuts floor(cum·n) with the
      // IEEE-exact cumulative literals 0.8 / 0.9
      """WITH r AS (SELECT doc_id, source,
        | CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':strat42'), 1, 8),
        |    doc_id) AS BIGINT) AS rk,
        | count(*) OVER (PARTITION BY source) AS n
        |FROM documents)
        |SELECT doc_id, source,
        | CASE WHEN rk <= floor(0.8 * n) THEN 'train'
        |      WHEN rk <= floor(0.9 * n) THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r"""),
    Key("split_assign_md5")((s, dir) =>
      DataSplit.assignPortable(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split"))(
      s"""SELECT doc_id,
        | $md5SplitSql
        |FROM documents"""),
    Key("split_group_assign")((s, dir) =>
      DataSplit.groupAssign(Tables.documents(s, dir), "source",
        Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
        .select("doc_id", "source", "split"))(
      // md5 of the GROUP value: every doc of a source shares the
      // split; 0.6/0.2/0.2 cuts = floor(w·16^8) hex thresholds
      """SELECT doc_id, source,
        | CASE WHEN substring(md5(source || ':gsplit42'), 1, 8)
        |        < '99999999' THEN 'train'
        |      WHEN substring(md5(source || ':gsplit42'), 1, 8)
        |        < 'cccccccc' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents"""),
    Key("split_leakage_pairs")((s, dir) =>
      DataSplit.splitLeakage(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))(
      // verified blocked pairs labeled by the md5 split; least/
      // greatest normalizes the edge, O(splits²) output
      (blockedPairsCte +
        s""", asg AS (SELECT doc_id,
          | $md5SplitSql
          | FROM documents),
          |lab AS (SELECT least(a.split, b.split) AS sa,
          |  greatest(a.split, b.split) AS sb
          | FROM m JOIN asg a ON a.doc_id = m.id_a
          |  JOIN asg b ON b.doc_id = m.id_b),
          |lg AS (SELECT sa, sb, count(*) AS n_pairs FROM lab GROUP BY 1, 2),
          |lt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM lg)
          |SELECT sa AS split_a, sb AS split_b, n_pairs,
          | sa <> sb AS cross_split,
          | round(CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
          |FROM lg, lt""")),
    Key("sample_poisson_k")((s, dir) =>
      Sampling.poissonK(Tables.documents(s, dir), "doc_id",
        col("n_chars").cast("double"), k = 100))(
      """WITH r AS (SELECT doc_id,
        |  (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':p42'), 1, 8)
        |    AS BIGINT) + 1.0) / 4294967296.0 / n_chars AS xi
        | FROM documents WHERE n_chars > 0)
        |SELECT CAST(row_number() OVER (ORDER BY xi, doc_id) AS BIGINT)
        |  AS sample_rank, doc_id, xi
        |FROM r QUALIFY sample_rank <= 100"""),
    Key("sample_weighted")((s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
        least(lit(1.0), col("n_chars") / lit(2000.0)))
        .select("doc_id", "source", "n_chars"))(
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':w42'), 1, 8) <
        | CASE WHEN least(1.0, n_chars / 2000.0) >= 1.0 THEN 'g'
        |  ELSE printf('%08x',
        |   CAST(floor(greatest(least(1.0, n_chars / 2000.0), 0.0) * 4294967296)
        |    AS BIGINT)) END"""),
    // exact binary-fraction shares: rate arithmetic replays exactly
    Key("sample_mixture")((s, dir) =>
      Sampling.sampleToMixture(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .select("doc_id", "source"))(
      s"""WITH ${mixtureSampleSql("documents", "d")}"""),
    // τ=1/2: rates are sqrt(nmin/n) — correctly-rounded IEEE ops,
    // so the selected set replays bit-for-bit in the oracle
    Key("sample_temperature")((s, dir) =>
      Sampling.sampleTemperature(Tables.documents(s, dir), "doc_id", "source")
        .select("doc_id", "source"))(
      s"""WITH ${temperatureSampleSql("documents", "d")}"""),
    Key("sample_stratified")((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "source",
        rates = Map("src0" -> 0.5, "src1" -> 0.05), defaultRate = 0.25)
        .select("doc_id", "source", "lang"))(
      """SELECT doc_id, source, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8) <
        | CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '0ccccccc'
        |  ELSE '40000000' END"""),
    sampleUniformK,
    Key("sample_uniform_k_agg")((s, dir) =>
      Sampling.uniformKPerStratumAgg(Tables.documents(s, dir), "doc_id", "source", k = 5)
        .select("source", "sample_rank", "doc_id"))(
      sampleUniformK.sql),
    Key("split_temporal_leakage")((s, dir) =>
      DataSplit.temporalSplitAudit(Tables.events(s, dir), "ts", "user_id",
        "2024-01-21 00:00:00")) {
      def sideRow(s: String, n: String): String =
        s"SELECT '$s' AS split, " +
          s"CAST(coalesce(sum($n), 0) AS BIGINT) AS n_rows, " +
          s"CAST(sum(CASE WHEN $n > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
          "AS n_entities, " +
          s"CAST(sum(CASE WHEN $n > 0 AND leaky THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS n_leaky_entities, " +
          s"round(CAST(sum(CASE WHEN $n > 0 AND leaky THEN 1 ELSE 0 END) " +
          s"AS BIGINT) * 1.0 / CAST(sum(CASE WHEN $n > 0 THEN 1 ELSE 0 END) " +
          "AS BIGINT), 6) AS leaky_frac FROM l"
      """WITH pe AS (SELECT user_id,
        | CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-21 00:00:00'
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        | CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-21 00:00:00'
        |   THEN 0 ELSE 1 END) AS BIGINT) AS n_test
        |FROM events GROUP BY 1),
        |l AS (SELECT *, n_train > 0 AND n_test > 0 AS leaky FROM pe)
        |""" +
        sideRow("train", "n_train") + " UNION ALL " + sideRow("test", "n_test")
    },
  )
}
