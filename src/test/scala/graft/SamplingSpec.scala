package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Hash-sampling specs: determinism under repartitioning, rate
  * accuracy, per-stratum behavior, exact-k selection.
  */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0L until 10000L)
    .map(i => (i, s"src${i % 4}"))
    .toDF("doc_id", "source")

  test("hexThreshold maps rates to the 8-hex-char grid") {
    assert(Sampling.hexThreshold(0.0) == "00000000")
    assert(Sampling.hexThreshold(0.5) == "80000000")
    assert(Sampling.hexThreshold(0.25) == "40000000")
    assert(Sampling.hexThreshold(1.0) == "ffffffff")
    intercept[IllegalArgumentException](Sampling.hexThreshold(1.5))
  }

  test("hashSample is deterministic and partition-independent") {
    val a = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.hashSample(docs.repartition(13), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("hashSample keeps ~rate of rows") {
    val n = Sampling.hashSample(docs, "doc_id", 0.3).count()
    assert(math.abs(n - 3000L) < 300, s"kept $n of 10000 at rate 0.3")
  }

  test("rate 1.0 keeps every row (no md5-tail loss)") {
    assert(Sampling.hashSample(docs, "doc_id", 1.0).count() == 10000L)
    val strat = Sampling.stratifiedSample(docs, "doc_id", "source",
      rates = Map("src0" -> 1.0), defaultRate = 1.0)
    assert(strat.count() == 10000L)
  }

  test("different salts give different samples") {
    val a = Sampling.hashSample(docs, "doc_id", 0.3, salt = "a")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.3, salt = "b")
      .select("doc_id").as[Long].collect().toSet
    assert(a != b)
  }

  test("stratifiedSample applies per-stratum rates") {
    val out = Sampling.stratifiedSample(docs, "doc_id", "source",
      rates = Map("src0" -> 0.9, "src1" -> 0.05), defaultRate = 0.4)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("src0") - 2250L) < 250, s"src0 ${out("src0")}")
    assert(out("src1") < 350, s"src1 ${out("src1")}")
    assert(math.abs(out("src2") - 1000L) < 250, s"src2 ${out("src2")}")
  }

  test("uniformKPerStratum returns exactly k rows per stratum, stable") {
    val a = Sampling.uniformKPerStratum(docs, "doc_id", "source", k = 7)
    val counts = a.groupBy("source").count().collect().map(_.getLong(1))
    assert(counts.length == 4 && counts.forall(_ == 7L))
    val b = Sampling.uniformKPerStratum(docs.repartition(11), "doc_id", "source", k = 7)
    assert(a.select("doc_id").as[Long].collect().sorted.toSeq ==
      b.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("mixture sampling hits target shares at maximum retention") {
    // skewed corpus: a=1000, b=4000, c=500 rows; targets 0.5/0.25/0.25
    // → achievable total T = min(1000/.5, 4000/.25, 500/.25) = 2000:
    // a and c bind (keep all), b thins to ~500, d drops entirely
    val skewed = ((0L until 1000L).map(i => (i, "a")) ++
      (1000L until 5000L).map(i => (i, "b")) ++
      (5000L until 5500L).map(i => (i, "c")) ++
      (5500L until 6000L).map(i => (i, "d")))
      .toDF("doc_id", "source")
    val out = Sampling.sampleToMixture(skewed, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val bySource = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.getOrElse("a", 0L) == 1000L, s"binding source keeps all: $bySource")
    assert(bySource.getOrElse("c", 0L) == 500L, s"binding source keeps all: $bySource")
    assert(!bySource.contains("d"), "sources outside the mixture drop")
    val b = bySource.getOrElse("b", 0L)
    assert(math.abs(b - 500L) < 5 * math.sqrt(500.0), s"b thinned to ~500, got $b")
    // deterministic: replay is identical
    val again = Sampling.sampleToMixture(skewed.repartition(7), "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == bySource)
  }

  test("weightedSample keeps ~weight fraction, edge weights exact") {
    val ids = (1L to 20000L).toDF("id")
    assert(Sampling.weightedSample(ids, "id", lit(0.0)).count() == 0L)
    assert(Sampling.weightedSample(ids, "id", lit(-0.5)).count() == 0L)
    assert(Sampling.weightedSample(ids, "id", lit(1.0)).count() == 20000L)
    assert(Sampling.weightedSample(ids, "id", lit(1.5)).count() == 20000L)
    val half = Sampling.weightedSample(ids, "id", lit(0.5)).count()
    assert(math.abs(half - 10000L) < 400, s"rate-0.5 kept $half of 20000")
    // per-row weights: keep-rate tracks each row's own weight
    val rows = (1L to 20000L).toDF("id")
      .withColumn("w", when($"id" % 2 === 0, 0.9).otherwise(0.1))
    val kept = Sampling.weightedSample(rows, "id", $"w")
      .groupBy($"id" % 2).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(math.abs(kept(0L) - 9000L) < 400, s"w=0.9 stratum kept ${kept(0L)}")
    assert(math.abs(kept(1L) - 1000L) < 300, s"w=0.1 stratum kept ${kept(1L)}")
  }

  test("weightedSample is deterministic and partition-independent") {
    val ids = (1L to 5000L).toDF("id")
    val a = Sampling.weightedSample(ids, "id", lit(0.3)).as[Long].collect().sorted.toSeq
    val b = Sampling.weightedSample(ids.repartition(13), "id", lit(0.3))
      .as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("poissonK selects the exact k-smallest u/w ranks; weight skews inclusion") {
    val rows = (1L to 4000L).map(i => (i, if (i % 4 == 0) 12.0 else 1.0))
      .toDF("id", "w")
    val got = Sampling.poissonK(rows, "id", $"w", k = 200).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // driver-side replay of the exact rank definition
    val md = java.security.MessageDigest.getInstance("MD5")
    def xi(id: Long, w: Double): Double = {
      val hex = md.digest(s"$id:p42".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967296.0 / w
    }
    val expected = (1L to 4000L)
      .map(i => (i, xi(i, if (i % 4 == 0) 12.0 else 1.0)))
      .sortBy { case (id, x) => (x, id) }.take(200)
    assert(got.map(_._2).toSeq == expected.map(_._1),
      "selected set+order must equal the k smallest ξ, exactly")
    assert(got.map(_._1).toSeq == (1L to 200L), "ranks dense from 1")
    // 1/4 of rows carry 12× weight → they should dominate the sample
    // (expected share 12/15 = 0.8); assert well above their 0.25 base
    val heavy = got.count(_._2 % 4 == 0)
    assert(heavy > 120, s"heavy rows must be overrepresented, got $heavy/200")
    // partition-independent
    val b = Sampling.poissonK(rows.repartition(17), "id", $"w", k = 200)
      .collect().map(r => r.getLong(1)).toSeq
    assert(b == got.map(_._2).toSeq)
  }

  test("sampleTemperature: equal-size sources all keep (rates hit 1.0 exactly)") {
    // 4 sources × 2500 docs: n_min/n_s = 1 → sqrt = 1.0 → the full-keep
    // threshold path, so NOT EVEN the 2^-32 hash tail may drop
    assert(Sampling.sampleTemperature(docs, "doc_id", "source").count() == 10000L)
  }

  test("sampleTemperature: retained counts ∝ sqrt(n); smallest source keeps all") {
    val skewed = ((0L until 8000L).map(i => (i, "src0")) ++
      (8000L until 10000L).map(i => (i, "src1")) ++
      (10000L until 10500L).map(i => (i, "src2")) ++
      Seq((99999L, null.asInstanceOf[String])))  // null stratum: dropped
      .toDF("doc_id", "source")
    val kept = Sampling.sampleTemperature(skewed, "doc_id", "source")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // τ=1/2 rates: src2 → 1.0 (binding), src1 → sqrt(500/2000) = 0.5,
    // src0 → sqrt(500/8000) = 0.25; retained ∝ sqrt(n): 2000/1000/500
    assert(kept.keySet == Set("src0", "src1", "src2"), s"null stratum leaked: $kept")
    assert(kept("src2") == 500L, s"binding source must keep everything: $kept")
    assert(math.abs(kept("src1") - 1000L) < 150, s"src1 ${kept("src1")} !~ 1000")
    assert(math.abs(kept("src0") - 2000L) < 200, s"src0 ${kept("src0")} !~ 2000")
  }

  test("sampleTemperature is deterministic and partition-independent") {
    val skewed = ((0L until 6000L).map(i => (i, "a")) ++
      (6000L until 7000L).map(i => (i, "b"))).toDF("doc_id", "source")
    val a = Sampling.sampleTemperature(skewed, "doc_id", "source")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.sampleTemperature(skewed.repartition(13), "doc_id", "source")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("sampleEstimate: HT expansion exact on unit values, error honest") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (1L to 1000L).map(i => (i, "g", 1.0))
      .toDF("id", "grp", "v")
    val r = Sampling.sampleEstimate(rows, "id", col("v") * lit(1.0), "grp",
      rate = 0.1).head()
    val (nRows, nSampled) = (r.getLong(1), r.getLong(2))
    assert(nRows == 1000L)
    // md5-uniform 10% of 1000 ids: a generous band, deterministic value
    assert(nSampled > 60 && nSampled < 140, s"sampled count: $nSampled")
    // unit values make the estimator algebra exact: est = n_sampled/rate
    assert(r.getDouble(3) == nSampled / 0.1, s"est: $r")
    // CI: q_s = n_sampled on unit values → 1.96·√(n·(1−r)/r²); the
    // realized error must sit inside it (coin is near-uniform)
    val ci = 1.959963984540054 * math.sqrt(nSampled * (0.9 / 0.01))
    assert(math.abs(r.getDouble(4) - ci) < 1e-9, s"ci: $r vs $ci")
    assert(math.abs(r.getDouble(3) - 1000.0) < ci,
      s"realized error outside the 95% band: $r")
    // r11 schema: ci_nominal boolean sits at index 5 before exact/rel_err
    assert(r.getBoolean(5) == (nSampled >= 30), s"ci_nominal: $r")
    assert(r.getDouble(6) == 1000.0)
    assert(math.abs(r.getDouble(7) -
      math.abs(nSampled / 0.1 - 1000.0) / 1000.0) < 1e-12)
    // determinism under repartitioning (the hash coin, not sample())
    val again = Sampling.sampleEstimate(rows.repartition(7), "id",
      col("v") * lit(1.0), "grp", rate = 0.1).head()
    assert(again.getLong(2) == nSampled && again.getDouble(3) == r.getDouble(3))
  }

  test("sampleEstimate: estimator is exactly sample-sum/rate on random values") {
    val rnd = new scala.util.Random(41)
    val rows = (1L to 600L).map(i => (i, s"g${i % 3}", rnd.nextDouble() * 10))
    val df = rows.toDF("id", "grp", "v")
    val got = Sampling.sampleEstimate(df, "id", col("v"), "grp", rate = 0.2)
      .collect()
    // replay the md5 coin driver-side
    val thr = Sampling.hexThreshold(0.2)
    def key(i: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:aqp42".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString
    }
    got.foreach { r =>
      val g = r.getString(0)
      val sampled = rows.filter(t => t._2 == g && key(t._1) < thr)
      assert(r.getLong(2) == sampled.size, s"$g: n_sampled: $r")
      val est = sampled.map(_._3).sum / 0.2
      assert(math.abs(r.getDouble(3) - est) < 1e-9, s"$g: est: $r vs $est")
    }
  }

  test("sampleEstimate: small-group CI flag and zero-sum rel_err guard") {
    // crafted skew: one big group (CLT regime), one 5-row group
    // whose half-width is NOT nominal, one group summing to exactly
    // zero (rel_err has no meaning — must be NULL, not inf/NaN)
    val rows = (1L to 400L).map(i => (i, "big", 1.0)) ++
      (401L to 405L).map(i => (i, "tiny", 2.0)) ++
      Seq((406L, "zero", 3.0), (407L, "zero", -3.0))
    val got = Sampling.sampleEstimate(rows.toDF("id", "grp", "v"),
        "id", col("v"), "grp", rate = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("big").getBoolean(5), s"big group CI must be nominal: $got")
    assert(!got("tiny").getBoolean(5),
      s"5-row group CI must be flagged non-nominal: $got")
    assert(!got("zero").getBoolean(5) || got("zero").getLong(2) >= 30)
    assert(got("zero").isNullAt(7),
      s"zero-sum group rel_err must be NULL: ${got("zero")}")
    assert(!got("big").isNullAt(7), "nonzero group keeps its rel_err")
  }
}
