package graft

import org.apache.spark.sql.functions._

import graft.functions.gf

/** Native expression specs: numeric correctness vs plain-Scala
  * reference computations, plus codegen-path sanity (values computed
  * through a real plan, not expression.eval()).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  test("cosineSim matches reference computation") {
    val a = Seq(1f, 2f, 3f)
    val b = Seq(-1f, 0.5f, 2f)
    val out = Seq((a, b)).toDF("a", "b")
      .select(gf.cosineSim($"a", $"b")).as[Double].head()
    assert(math.abs(out - refCosine(a, b)) < 1e-12)
  }

  test("cosineSim is 1 for parallel vectors, 0 for zero vector") {
    val rows = Seq(
      (Seq(1f, 1f), Seq(2f, 2f)),
      (Seq(1f, 1f), Seq(0f, 0f)))
    val out = rows.toDF("a", "b").select(gf.cosineSim($"a", $"b")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
  }

  test("hash64 is deterministic and spreads") {
    val out = Seq("a", "b", "a").toDF("s")
      .select(gf.hash64($"s")).as[Long].collect()
    assert(out(0) == out(2))
    assert(out(0) != out(1))
    // FNV-1a("a") known value
    assert(out(0) == 0xaf63dc4c8601ec8cL)
  }

  test("shingleHashes: n-k+1 shingles, order-sensitive, separator-safe") {
    val df = Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b"),
      Seq("ab", "c"),  // must differ from ("a","bc") — separator test
      Seq("a", "bc")).toDF("toks")
    val out = df.select(gf.shingleHashes($"toks", 2)).as[Seq[Long]].collect()
    assert(out(0).length == 3)
    assert(out(1).length == 1)
    assert(out(2) != out(3))
  }

  test("shingleHashes: fewer tokens than k gives empty") {
    val out = Seq(Seq("a")).toDF("toks")
      .select(gf.shingleHashes($"toks", 3)).as[Seq[Long]].head()
    assert(out.isEmpty)
  }

  test("charShingleHashes: rolling hash matches n-gram set semantics") {
    val out = Seq("abcde", "abcde", "abcdf", "ab").toDF("s")
      .select(gf.charShingleHashes($"s", 3)).as[Seq[Long]].collect()
    assert(out(0).length == 3) // abc, bcd, cde
    assert(out(0) == out(1))
    assert(out(2).take(2) == out(0).take(2)) // shared prefix grams equal
    assert(out(2)(2) != out(0)(2))           // differing tail gram differs
    assert(out(3).isEmpty)                   // shorter than n
    // same gram at different positions hashes identically (set semantics)
    val rep = Seq("abcabc").toDF("s")
      .select(gf.charShingleHashes($"s", 3)).as[Seq[Long]].head()
    assert(rep(0) == rep(3))
  }

  test("tokenShingleHashes: fused kernel is canonicalization-invariant") {
    val out = Seq(
      "the quick  brown fox",     // double space
      "  The QUICK brown FOX ",   // case + padding
      "the quick brown cat",      // one token differs
      "a b")                      // fewer than k tokens
      .toDF("s").select(gf.tokenShingleHashes($"s", 3)).as[Seq[Long]].collect()
    assert(out(0).length == 2) // 4 tokens, k=3 → 2 shingles
    assert(out(0) == out(1))   // whitespace/case-insensitive
    assert(out(2).head == out(0).head)  // shared prefix shingle
    assert(out(2).last != out(0).last)  // differing tail shingle
    assert(out(3).isEmpty)
  }

  test("simhash64: identical token sets identical, near sets near, far sets far") {
    val base = (1 to 40).map(i => s"tok$i")
    val near = base.updated(3, "CHANGED")
    val far = (1 to 40).map(i => s"other$i")
    val out = Seq(base, base, near, far).toDF("toks")
      .select(gf.simhash64($"toks")).as[Long].collect()
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(out(0) == out(1))
    assert(ham(out(0), out(2)) < 16, s"near hamming ${ham(out(0), out(2))}")
    assert(ham(out(0), out(3)) > 16, s"far hamming ${ham(out(0), out(3))}")
  }

  test("minhashSignature approximates Jaccard") {
    val a = (1 to 100).map(_.toLong)
    val b = (51 to 150).map(_.toLong) // true J = 50/150 = 1/3
    val out = Seq(a, b).toDF("h")
      .select(gf.minhashSignature($"h", 256, seed = 42L)).as[Seq[Long]].collect()
    val est = out(0).zip(out(1)).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - 1.0 / 3.0) < 0.12, s"estimate $est")
  }

  test("hyperplaneSig: same vector same bucket, opposite vector opposite bits") {
    val planes = gf.randomPlanes(16, 4, seed = 1L)
    val out = Seq(
      Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f, 4f), Seq(-1f, -2f, -3f, -4f))
      .toDF("v").select(gf.hyperplaneSig($"v", planes)).as[Long].collect()
    assert(out(0) == out(1))
    assert((out(0) & 0xffffL) == (~out(2) & 0xffffL))
  }

  test("multiprobeSigs: exact bucket first, flips ordered by margin, distinct") {
    val planes = gf.randomPlanes(8, 4, seed = 1L)
    val v = Seq(1f, 2f, 3f, 4f)
    val base = Seq(v).toDF("v").select(gf.hyperplaneSig($"v", planes))
      .as[Long].head()
    val probes = Seq(v).toDF("v").select(gf.multiprobeSigs($"v", planes, 4))
      .as[Seq[Long]].head()
    assert(probes.length == 4)
    assert(probes.head == base, "entry 0 must be the exact signature")
    // every later entry flips exactly ONE bit of the base signature
    probes.tail.foreach(p =>
      assert(java.lang.Long.bitCount(p ^ base) == 1, f"probe $p%x vs $base%x"))
    assert(probes.distinct == probes, "probes must be distinct buckets")
    // margin order: flipped planes in ascending |v·plane|
    val margins = planes.map(pl =>
      math.abs(pl.zip(v).map { case (a, b) => a.toDouble * b }.sum))
    val flipped = probes.tail.map(p =>
      java.lang.Long.numberOfTrailingZeros(p ^ base))
    assert(flipped == flipped.sortBy(margins(_)),
      s"flip order $flipped not by margin ${margins.toSeq}")
    // probes=1 degrades to the plain signature
    val one = Seq(v).toDF("v").select(gf.multiprobeSigs($"v", planes, 1))
      .as[Seq[Long]].head()
    assert(one == Seq(base))
  }

  test("nearestCentroids orders probes by similarity") {
    val centroids = Array(Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f))
    val out = Seq(Seq(0.9f, 0.1f)).toDF("v")
      .select(gf.nearestCentroids($"v", centroids, 3)).as[Seq[Int]].head()
    assert(out == Seq(0, 1, 2))
  }

  test("SQL registration via GraftExtensions works end-to-end") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "graft_hash64('a') AS h, " +
        "simhash64(array('x','y')) AS s, " +
        "shingle_hashes(array('x','y','z'), 2) AS sh, " +
        "minhash_signature(array(1L, 2L), 4, 42) AS mh, " +
        "char_shingle_hashes('abcd', 3) AS cs").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) == 0xaf63dc4c8601ec8cL)
    assert(r.getSeq[Long](3).length == 2)
    assert(r.getSeq[Long](4).length == 4)
    assert(r.getSeq[Long](5).length == 2) // "abc", "bcd"
    // token_dropout from SQL: threshold 'g' drops everything,
    // '00000000' keeps everything
    val td = spark.sql(
      "SELECT token_dropout('a b c', 7L, 'g', 's') AS none, " +
        "token_dropout('a  b\tc', 7L, '00000000', 's') AS all").head()
    assert(td.getString(0) == "")
    assert(td.getString(1) == "a b c", "whitespace canonicalizes to single spaces")
    // the r12 repetition kernels: "a b a b" -> dup bigrams cover all
    // 4 tokens (4 chars); top bigram "a b" count 2, length 3
    val rk = spark.sql(
      "SELECT dup_ngram_coverage(array('a','b','a','b'), 2, 2) AS cov, " +
        "top_ngram_stats(array('a','b','a','b'), 2, 2) AS top").head()
    assert(rk.getSeq[Long](0) == Seq(4L, 4L))
    assert(rk.getSeq[Long](1) == Seq(2L, 3L))
    // the fused md5/gram kernels and deflate_ratio: SQL gives the
    // Column API's value, and the md5s are SQL md5s of the grams
    val text = "a b a b c"
    val tx = spark.sql(
      s"SELECT chunk_md5s('$text', 2) AS ch, token_ngrams('$text', 2) AS ng, " +
        s"winnow_fingerprints('$text', 2, 2) AS wf, deflate_ratio('$text') AS dr, " +
        "array(md5('a b'), md5('a b')) AS chRef, " +
        "array(md5('a b'), md5('b a'), md5('b c')) AS gramMd5s").head()
    val api = Seq(text).toDF("t").select(gf.chunkMd5s($"t", 2), gf.tokenNgrams($"t", 2),
      gf.winnowFingerprints($"t", 2, 2), gf.deflateRatio($"t")).head()
    (0 until 4).foreach(i => assert(tx.get(i) == api.get(i), s"column $i"))
    assert(tx.getSeq[String](0) == tx.getSeq[String](4))
    assert(tx.getSeq[String](1) == Seq("a b", "b a", "b c"))
    val wf = tx.getSeq[String](2)
    assert(wf.nonEmpty && wf.forall(tx.getSeq[String](5).contains))
    assert(tx.getDouble(3) > 0.0)
  }

  test("a wrong-typed column fails analysis, through the Column API and SQL") {
    val df = Seq((1, "x")).toDF("i", "s")
    df.createOrReplaceTempView("fn_typed")
    def mismatch(run: => Any): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](run)
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    mismatch(df.select(gf.hash64($"i")).collect())
    mismatch(df.select(gf.cosineSim($"s", $"s")).collect())
    mismatch(spark.sql("SELECT graft_hash64(i) FROM fn_typed").collect())
    mismatch(spark.sql("SELECT cosine_sim(s, s) FROM fn_typed").collect())
  }

  test("unaliased kernel columns are labelled by SQL name and columns only") {
    val df = Seq(("a b", Seq(1f, 0f))).toDF("text", "v")
    assert(df.select($"text".as("t")).select(gf.hash64($"t")).columns.toSeq ==
      Seq("graft_hash64(t)"))
    assert(df.select(gf.tokenShingleHashes($"text", 2),
      gf.nearestCentroids($"v", Array(Array(1f, 0f), Array(0f, 1f)), 1)).columns.toSeq ==
      Seq("token_shingle_hashes(text)", "nearest_centroids(v)"))
  }

  test("a null input gives a null output: unary, binary, model and constant kernels") {
    val centroids = Array(Array(1f, 0f), Array(0f, 1f))
    // v is never null, so cosineSim(v, w) has one null argument of two
    val kernels = Seq(gf.hash64($"s"), gf.cosineSim($"v", $"w"),
      gf.nearestCentroids($"w", centroids, 1), gf.tokenDropout($"s", $"id", 0.5, "salt"))
    // a local relation (evaluated on the driver) ...
    val local = Seq[(Option[String], Option[Long], Seq[Float], Option[Seq[Float]])](
      (None, None, Seq(1f, 0f), None)).toDF("s", "id", "v", "w")
    // ... and generated code over a scan, where the nulls are not constants
    val scanned = spark.range(1).select(
      when($"id" > 0, "a b").as("s"), when($"id" > 0, 7L).as("id"),
      array(lit(1f), lit(0f)).as("v"), when($"id" > 0, array(lit(0f), lit(1f))).as("w"))
    for (df <- Seq(local, scanned)) {
      val r = df.select(kernels: _*).head()
      assert((0 until 4).forall(r.isNullAt), r)
    }
  }

  test("charTrigrams matches sliding substring semantics, multibyte-safe") {
    val rows = Seq("abcdef", "ab", "", "日本語テスト", "aé日x")
      .toDF("text")
      .select($"text", graft.functions.gf.charTrigrams($"text").as("tg"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
      .toMap
    def ref(s: String): Seq[String] = {
      val chars = s.toSeq.map(_.toString) // BMP-only test data: 1 char = 1 code unit
      if (chars.length < 3) Seq.empty
      else chars.sliding(3).map(_.mkString).toSeq
    }
    rows.foreach { case (s, got) => assert(got == ref(s), s"for '$s'") }
    assert(rows("日本語テスト") == Seq("日本語", "本語テ", "語テス", "テスト"))
  }
}
