package graft

import graft.operators.TextAnalysis

/** Randomized (seeded, reproducible) checks of the span-level text
  * operators against naive in-memory references. A tiny vocabulary
  * makes n-gram and chunk collisions common on purpose — the regime
  * where an off-by-one in windowing or a missed distinct shows up.
  */
class TextPropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Array("a", "b", "c", "d")

  private def randomDocs(rnd: scala.util.Random, n: Int): Seq[(Long, String)] =
    (0L until n.toLong).map { id =>
      val len = rnd.nextInt(12) // 0..11 tokens: shorter than n sometimes
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }

  private def toks(s: String): Seq[String] = s.split("\\s+").filter(_.nonEmpty)

  test("decontaminate equals the naive n-gram intersection on random docs") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val docs = randomDocs(rnd, 60)
      def grams(s: String): Set[String] =
        toks(s).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      val bench = docs.filter(_._1 % 97 == 0).flatMap(d => grams(d._2)).toSet
      val want = docs.filter(_._1 % 97 != 0)
        .map { case (id, t) => id -> (grams(t) & bench).size.toLong }
        .filter(_._2 > 0).toMap
      val got = TextAnalysis.decontaminate(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"round $round: got $got want $want")
    }
  }

  test("chunkDedup equals the naive chunk census on random docs") {
    val rnd = new scala.util.Random(11)
    for (round <- 1 to 5) {
      val docs = randomDocs(rnd, 80)
      val n = 8
      def chunks(s: String): Seq[String] =
        toks(s).grouped(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      val occurrences = docs.flatMap { case (id, t) => chunks(t).map(c => (c, id)) }
      val want = occurrences.groupBy(_._1)
        .map { case (c, occ) =>
          c -> (occ.map(_._2).distinct.size.toLong, occ.size.toLong) }
        .filter(_._2._1 > 1)
      val got = TextAnalysis.chunkDedup(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // spark reports md5(chunk); re-key the naive result the same way
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      assert(got == want.map { case (c, v) => md5hex(c) -> v },
        s"round $round mismatch")
    }
  }

  test("fused md5 kernels equal the SQL higher-order spelling exactly") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val docs = (randomDocs(rnd, 120) ++ Seq(
      (1000L, ""), (1001L, " \t\n "), (1002L, "  a\tb\nc  de\ff "),
      (1003L, "héllo wörld héllo wörld héllo wörld émoji  nbsp"),
      (1004L, "one two"))) // fewer tokens than n
      .toDF("doc_id", "text")
    val (n, window, stride) = (3, 4, 8)
    val toksC = graft.operators.TextAnalysis.tokens(col("text"))

    def collectFps(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).sorted).toMap

    // winnow: kernel vs the interpreted transform/array_min spelling
    val sqlWinnow = docs
      .select(col("doc_id"), toksC.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => md5(array_join(slice(col("toks"), i + lit(1), lit(n)), " "))))
          .otherwise(array().cast("array<string>")).as("grams"))
      .select(col("doc_id"), array_distinct(
        when(size(col("grams")) >= window,
          transform(sequence(lit(0), size(col("grams")) - window),
            j => array_min(slice(col("grams"), j + lit(1), lit(window)))))
          .otherwise(col("grams"))).as("fps"))
    val kernelWinnow = docs.select(col("doc_id"),
      graft.functions.gf.winnowFingerprints(col("text"), n, window).as("fps"))
    assert(collectFps(kernelWinnow) == collectFps(sqlWinnow),
      "winnow kernel diverges from the SQL spelling")

    // chunks: kernel vs the interpreted transform spelling
    val sqlChunks = docs
      .select(col("doc_id"), toksC.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) >= stride,
          transform(sequence(lit(0), size(col("toks")) - stride, lit(stride)),
            i => md5(array_join(slice(col("toks"), i + lit(1), lit(stride)), " "))))
          .otherwise(array().cast("array<string>")).as("fps"))
    val kernelChunks = docs.select(col("doc_id"),
      graft.functions.gf.chunkMd5s(col("text"), stride).as("fps"))
    assert(collectFps(kernelChunks) == collectFps(sqlChunks),
      "chunk kernel diverges from the SQL spelling")

    // token n-grams: kernel vs the interpreted HOF spelling — EXACT
    // order too (both are first-occurrence-ordered distinct)
    val sqlGrams = docs
      .select(col("doc_id"), toksC.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) >= n,
          array_distinct(transform(
            sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + lit(1), lit(n)), " "))))
          .otherwise(array().cast("array<string>")).as("fps"))
    val kernelGrams = docs.select(col("doc_id"),
      graft.functions.gf.tokenNgrams(col("text"), n).as("fps"))
    def collectOrdered(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(collectOrdered(kernelGrams) == collectOrdered(sqlGrams),
      "token-ngram kernel diverges from the SQL spelling")
  }

  test("weighted sampling frequency tracks the weight on a big draw") {
    val ids = (1L to 30000L).toDF("id")
    for (w <- Seq(0.2, 0.7)) {
      val kept = graft.operators.Sampling
        .weightedSample(ids, "id", org.apache.spark.sql.functions.lit(w),
          salt = s"prop$w")
        .count()
      val expect = 30000 * w
      assert(math.abs(kept - expect) < 5 * math.sqrt(expect),
        s"w=$w kept $kept, expected ~$expect")
    }
  }

  test("tokenDropout kernel equals a driver-side reference on random docs") {
    val rnd = new scala.util.Random(23)
    val md = java.security.MessageDigest.getInstance("MD5")
    def refDropout(id: Long, text: String, thr: String, salt: String): String =
      toks(text).zipWithIndex.filter { case (_, i) =>
        val hex = md.digest(s"$id:$i:$salt".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        hex >= thr
      }.map(_._1).mkString(" ")
    for (round <- 1 to 5) {
      val docs = randomDocs(rnd, 80)
      val rate = 0.1 + rnd.nextInt(8) / 10.0
      val thr = f"${math.floor(rate * 4294967296.0).toLong}%08x"
      val got = TextAnalysis
        .augmentTokenDropout(docs.toDF("doc_id", "text"), rate, salt = s"r$round")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = docs.map { case (id, t) =>
        id -> refDropout(id, t, thr, s"r$round") }.toMap
      assert(got == want, s"round $round rate $rate")
      // survivors preserve original token order (subsequence property)
      got.foreach { case (id, aug) =>
        val orig = toks(docs.find(_._1 == id).get._2).iterator
        toks(aug).foreach { t =>
          assert(orig.contains(t), s"doc $id: '$t' out of order or absent")
        }
      }
    }
  }
}
