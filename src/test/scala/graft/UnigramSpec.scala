package graft

import graft.operators.Unigram

/** Unigram-tokenizer specs: Viterbi optimality against brute force,
  * segmentation totality, and training usefulness. */
class UnigramSpec extends SparkSpec {

  private val docs =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")

  test("viterbi equals brute-force best segmentation incl. the tie rule (property)") {
    val rnd = new scala.util.Random(20260815L)
    // brute force: enumerate every segmentation into pieces of len
    // 1..4, score by prob product in the SAME left-to-right
    // multiplication order, pick max; ties prefer the segmentation
    // whose LAST differing boundary uses the longer piece (the DP's
    // longest-last-piece rule applied at every position)
    def all(w: String): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(4, w.length)).flatMap(l =>
        all(w.drop(l)).map(w.take(l) :: _))
    for (round <- 1 to 20) {
      val alpha = "abc"
      val n = 1 + rnd.nextInt(8)
      val w = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
      // random vocab: all single chars + random multi-char pieces,
      // probs on a coarse grid so ties actually happen
      val pieces = (alpha.map(_.toString) ++
        Seq.fill(6)(Seq.fill(1 + rnd.nextInt(4))(
          alpha(rnd.nextInt(alpha.length))).mkString)).distinct
      val p = pieces.map(_ -> (0.125f * (1 + rnd.nextInt(4)))).toMap
      def score(seg: List[String]): Double =
        seg.foldLeft(1.0)((a, s) => a * p.getOrElse(s, 0.0f).toDouble)
      val got = Unigram.viterbi(w, p).toList
      val best = score(all(w).maxBy(score))
      assert(math.abs(score(got) - best) == 0.0,
        s"round $round '$w': viterbi ${score(got)} vs brute $best ($got)")
      assert(got.mkString == w, s"round $round: pieces must rebuild '$w'")
    }
  }

  test("segmentation is total and training compresses the corpus") {
    val model = Unigram.trainModel(docs)
    val probs = model.map(t => t._1 -> t._3).toMap
    assert(model.forall(_._3 > 0.0f), "every surviving piece has mass")
    assert(model.exists(t => t._1.length > 1 && t._2 > 0L),
      "training must actually use multi-char pieces")
    // totality + compression over the real corpus vocabulary
    val words = Unigram.wordsOf(docs).collect().map(_.getString(0))
    val segs = words.map(w => w -> Unigram.viterbi(w, probs))
    assert(segs.forall { case (w, s) => s.mkString == w },
      "every word must rebuild from its pieces")
    val fertility = segs.map(_._2.length).sum.toDouble / words.length
    val charGrain = words.map(_.length).sum.toDouble / words.length
    assert(fertility < charGrain,
      f"trained fertility $fertility%.2f must beat char grain $charGrain%.2f")
  }

  test("the driver fertility readout agrees with text_tokenizer_fertility's shape") {
    val rows = Unigram.applyTokenizer(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, np) = (r.getLong(1), r.getLong(2))
      assert(np >= nw, s"pieces can never undercut words: $r")
      // per-word sigs are < 2^53 and the doc sig is their sum
      assert(r.getLong(4) >= 0L &&
        r.getLong(4) < 9007199254740992L * math.max(nw, 1L),
        s"path_sig must sit under n_words * 2^53: $r")
    }
  }

  test("unigram local init/EM ≡ distributed twins on the same dict") {
    import spark.implicits._
    val docs = Seq(
      (1L, "banana bandana ana ban"),
      (2L, "banana nabnab anaban"),
      (3L, "dana ban ana ana")
    ).toDF("doc_id", "text")
    val words = Unigram.wordsOf(docs).localCheckpoint(true)
    val dict = words.as[(String, Long)].collect()
    val vLocal = Unigram.initVocabLocal(dict, vocabSize = 16)
    val vDist = Unigram.initVocab(words, vocabSize = 16)
    assert(vLocal.sortBy(_._1).toSeq === vDist.sortBy(_._1).toSeq)
    val probs = vLocal.map { case (p, c) =>
      p -> (c.toDouble / vLocal.map(_._2).sum).toFloat }.toMap
    val eLocal = Unigram.emRoundLocal(dict, probs)
    val eDist = Unigram.emRound(words, probs)
    assert(eLocal.sortBy(_._1).toSeq === eDist.sortBy(_._1).toSeq)
  }
}
