package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CountMin

/** Count-Min sketch: structural invariants (mass conservation,
  * bounded size), the one-sided error guarantee, the ε = e/width
  * error bound, and bucket-wise mergeability — on a synthetic corpus
  * with a vocabulary far wider than the sketch so collisions are
  * real, plus the shipped documents table. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  // 40k token instances over a 5000-token vocabulary (≈ 5 tokens per
  // bucket per row — real collision pressure), Zipf-ish multiplicity
  // via the mod ladder: token t appears 1 + (t % 17) times
  private lazy val wide: DataFrame = spark.range(5000)
    .select(concat(lit("tok"), col("id")).as("t"),
      (col("id") % 17 + 1).cast("int").as("reps"))
    .select(explode(expr("transform(sequence(1, reps), i -> t)")).as("t"))
    .groupBy(lit(1).as("doc_id"))
    .agg(concat_ws(" ", collect_list("t")).as("text"))

  private lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def exactCounts(d: DataFrame): DataFrame =
    d.select(explode(array_remove(split(lower(col("text")), "\\s+"), ""))
      .as("tok")).groupBy("tok").agg(count(lit(1)).as("exact_cnt"))

  private def estimates(d: DataFrame): DataFrame = {
    val sk = CountMin.sketch(d).localCheckpoint(true)
    val consts = CountMin.rowConsts
    exactCounts(d)
      .select(col("tok"), col("exact_cnt"),
        posexplode(array(consts.map { case (a, b) =>
          graft.functions.gf.cmsBucket(
            graft.functions.gf.hash64(col("tok")), a, b, CountMin.Shift)
        }: _*)).as(Seq("r", "bucket")))
      .join(sk, Seq("r", "bucket"))
      .groupBy("tok", "exact_cnt").agg(min("cnt").as("est"))
  }

  test("structure: every row conserves the token mass, bucket ids " +
    "stay in [0, width), relation is at most depth x width rows") {
    val sk = CountMin.sketch(wide).localCheckpoint(true)
    val n = wide.select(explode(split(col("text"), " "))).count()
    val perRow = sk.groupBy("r").agg(sum("cnt").as("mass")).collect()
    assert(perRow.length === CountMin.Depth)
    perRow.foreach(r => assert(r.getLong(1) === n,
      s"row ${r.getInt(0)} lost mass: ${r.getLong(1)} != $n"))
    assert(sk.filter(col("bucket") < 0 ||
      col("bucket") >= CountMin.Width).count() === 0L)
    assert(sk.count() <= (CountMin.Depth * CountMin.Width).toLong)
  }

  test("one-sided error: the estimate never undercounts, for EVERY " +
    "token of a vocabulary 5x the sketch width") {
    val under = estimates(wide)
      .filter(col("est") < col("exact_cnt")).count()
    assert(under === 0L)
  }

  test("error bound: overcount <= e*N/width for every tracked key " +
    "(the CM guarantee holds with room on this corpus)") {
    val n = wide.select(explode(split(col("text"), " "))).count()
    val bound = math.ceil(math.E * n / CountMin.Width).toLong
    val worst = estimates(wide)
      .select(max(col("est") - col("exact_cnt"))).first().getLong(0)
    assert(worst <= bound,
      s"max overcount $worst exceeds e*N/w = $bound — either the " +
        "hashing lost independence or the bucket formula regressed " +
        "to low bits")
  }

  test("mergeability: sketch(A union B) == bucket-wise sum of the " +
    "per-shard sketches, exactly") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val merged = CountMin.sketch(a)
      .unionByName(CountMin.sketch(b))
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
    val whole = CountMin.sketch(docs)
    assert(whole.exceptAll(merged).count() === 0L)
    assert(merged.exceptAll(whole).count() === 0L)
  }

  test("readout: the top-k table is the exact top-k with min-over-" +
    "rows estimates (brute-force parity)") {
    val got = CountMin.topTokenEstimates(docs,
        SharedTrunks.pin(CountMin.sketch(docs)), k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val expTop = exactCounts(docs).orderBy(col("exact_cnt").desc, col("tok"))
      .limit(10).select("tok").as[String].collect().toSet
    val exp = estimates(docs).filter(col("tok").isInCollection(expTop))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(2) - r.getLong(1)))
      .sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
  }
}
