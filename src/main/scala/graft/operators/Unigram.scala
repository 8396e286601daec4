package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece-unigram family, beside
  * [[graft.functions]]' BPE trio): candidate pieces are frequent
  * substrings, training is HARD-EM (Viterbi re-segmentation →
  * integer piece counts → re-normalized probabilities), application
  * is Viterbi segmentation under the trained model.
  *
  * Determinism design — stronger than the float-snap convention,
  * because hard-EM needs NO float folds at all: every model update
  * is `float(integer count / integer total)` (exact operands, one
  * IEEE division, one narrowing — bit-identical cross-engine), and
  * the Viterbi DP multiplies those floats in a fixed order, so both
  * engines walk bit-identical alphas and break ties by the same
  * longest-piece rule. The DuckDB oracle replays training end to
  * end: candidate extraction, the top-V cut, two EM rounds (each a
  * recursive-CTE Viterbi over distinct words), and the final
  * segmentation.
  *
  * 100 TB shape: the model is O(vocabSize) pieces (top-V cut — a
  * driver/broadcast-sized artifact like the PQ codebooks); training
  * segments DISTINCT words (the segmentation depends only on the
  * word and the model), so each EM round is one distinct-word scan
  * + an O(vocab) count aggregate; application is a stateless
  * broadcast-join of per-word segmentations back onto documents.
  * Words longer than [[MaxWord]] fall back to deterministic
  * char-grain segmentation — a DP-depth/underflow guard, not a
  * modeling choice.
  */
object Unigram {

  val MaxPiece = 4
  val MaxWord = 32
  val DefaultVocab = 4096

  /** Distinct words with occurrence weights — the training grain. */
  def wordsOf(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_occ"))

  /** Candidate vocabulary: every single char (segmentation totality)
    * plus the top-`vocabSize` multi-char substrings (length ≤ 4,
    * weighted count ≥ 2) by (count desc, piece asc). Returns
    * (piece, count) — bounded model state. */
  def initVocab(words: DataFrame,
                vocabSize: Int = DefaultVocab): Array[(String, Long)] = {
    val subs = words.select(col("word"), col("n_occ"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(word)), i ->
             | transform(sequence(1, least($MaxPiece, length(word) - i + 1)),
             |  l -> substring(word, i, l))))""".stripMargin.replace("\n", " ")))
          .as("piece"))
      .groupBy("piece").agg(sum("n_occ").as("cnt"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1 && col("cnt") >= 2L)
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
    chars.unionByName(multi)
      .collect().map(r => (r.getString(0), r.getLong(1)))
  }

  /** Viterbi segmentation of one word under float piece probs:
    * maximize the product of probabilities; ties prefer the LONGER
    * last piece (the oracle's CASE order). Words over [[MaxWord]]
    * segment at char grain. Returns the piece sequence. */
  def viterbi(word: String,
              p: scala.collection.Map[String, Float]): Seq[String] = {
    val n = word.length
    if (n > MaxWord) return word.map(_.toString)
    val a = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    a(0) = 1.0
    var i = 1
    while (i <= n) {
      var bestA = -1.0
      var bestL = 1
      var l = 1
      while (l <= math.min(MaxPiece, i)) {
        val pr = p.getOrElse(word.substring(i - l, i), 0.0f).toDouble
        val cand = a(i - l) * pr
        // >= with ascending l: the longest piece wins ties, matching
        // the oracle's longest-first CASE chain
        if (cand >= bestA) { bestA = cand; bestL = l }
        l += 1
      }
      a(i) = bestA
      back(i) = bestL
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += word.substring(pos - back(pos), pos); pos -= back(pos) }
    out.reverse.toSeq
  }

  private def probsOf(counts: Iterable[(String, Long)]): Map[String, Float] = {
    val total = counts.map(_._2).sum
    counts.map { case (piece, c) => piece -> (c.toDouble / total).toFloat }
      .toMap
  }

  /** One hard-EM round: segment every distinct word under `probs`,
    * fold weighted piece uses, smooth (single chars never drop —
    * segmentation must stay total), return (piece, rawUses,
    * smoothedCount). */
  private[graft] def emRound(words: DataFrame, probs: Map[String, Float])
      : Array[(String, Long, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bp = spark.sparkContext.broadcast(probs)
    val uses = words.as[(String, Long)]
      .flatMap { case (w, nOcc) => viterbi(w, bp.value).map(_ -> nOcc) }
      .toDF("piece", "n")
      .groupBy("piece").agg(sum("n").as("uses"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probs.keysIterator.map { piece =>
      val u = uses.getOrElse(piece, 0L)
      (piece, u, if (piece.length == 1) math.max(u, 1L) else u)
    }.filter(_._3 > 0L).toArray
  }

  /** Word dicts at or under this row count run candidate extraction
    * and the EM rounds as a driver fold; bigger dicts keep the
    * distributed loop (a 100 TB crawl's distinct-word dict is NOT
    * vocab-bounded). Same adaptive-plan-choice pattern and bound as
    * the BPE trainer — both branches are bit-identical (integer
    * counts, UTF8-binary tie-breaks, the same [[viterbi]] kernel). */
  private val DriverFoldMaxWords = 65536L

  /** `x` sorts before `y` in Spark's UTF8String BINARY order
    * (unsigned UTF-8 bytes, then length). */
  private[operators] def u8lt(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Full training: init vocab → `iters` hard-EM rounds. Returns the
    * final (piece, rawUses, prob). */
  def trainModel(docs: DataFrame, iters: Int = 2,
                 vocabSize: Int = DefaultVocab): Array[(String, Long, Float)] = {
    val words = wordsOf(docs).localCheckpoint(true)
    val driverDict: Option[Array[(String, Long)]] =
      if (words.count() <= DriverFoldMaxWords)
        Some(words.collect().map(r => (r.getString(0), r.getLong(1))))
      else None
    var counts: Array[(String, Long)] = driverDict
      .map(initVocabLocal(_, vocabSize))
      .getOrElse(initVocab(words, vocabSize))
    var raw: Map[String, Long] = counts.toMap
    for (_ <- 0 until iters) {
      val r = driverDict
        .map(emRoundLocal(_, probsOf(counts)))
        .getOrElse(emRound(words, probsOf(counts)))
      raw = r.map(t => t._1 -> t._2).toMap
      counts = r.map(t => (t._1, t._3))
    }
    val probs = probsOf(counts)
    counts.map { case (piece, _) => (piece, raw(piece), probs(piece)) }
  }

  /** [[initVocab]] as a driver fold over the collected dict —
    * identical pieces and counts (integer sums; the top-V cut orders
    * by (count desc, piece UTF8-binary asc), the same total order the
    * relational orderBy used). Substring enumeration is per CODE
    * POINT, matching SQL substring/length semantics. */
  private[graft] def initVocabLocal(dict: Array[(String, Long)],
                             vocabSize: Int): Array[(String, Long)] = {
    def cps(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, n) <- dict) {
      val c = cps(w)
      var i = 0
      while (i < c.length) {
        var l = 1
        val maxL = math.min(MaxPiece, c.length - i)
        while (l <= maxL) {
          val piece = c.slice(i, i + l).mkString
          cnt(piece) = cnt.getOrElse(piece, 0L) + n
          l += 1
        }
        i += 1
      }
    }
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    val chars = cnt.toArray.filter(p => cpLen(p._1) == 1)
    val multi = cnt.toArray.filter(p => cpLen(p._1) > 1 && p._2 >= 2L)
      .sortWith((x, y) =>
        if (x._2 != y._2) x._2 > y._2 else u8lt(x._1, y._1))
      .take(vocabSize)
    chars ++ multi
  }

  /** [[emRound]] as a driver fold over the collected dict — the same
    * [[viterbi]] kernel, integer use sums, identical smoothing. */
  private[graft] def emRoundLocal(dict: Array[(String, Long)],
                           probs: Map[String, Float])
      : Array[(String, Long, Long)] = {
    val uses = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, nOcc) <- dict; p <- viterbi(w, probs))
      uses(p) = uses.getOrElse(p, 0L) + nOcc
    probs.keysIterator.map { piece =>
      val u = uses.getOrElse(piece, 0L)
      (piece, u, if (piece.length == 1) math.max(u, 1L) else u)
    }.filter(_._3 > 0L).toArray
  }

  /** The trained model as a relation: (piece, n_uses, prob) — the
    * persisted tokenizer artifact (float-exact probs as doubles). */
  def train(docs: DataFrame, iters: Int = 2,
            vocabSize: Int = DefaultVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainModel(docs, iters, vocabSize)
      .map { case (p, u, pr) => (p, u, pr.toDouble) }.toSeq
      .toDF("piece", "n_uses", "prob")
  }

  /** The trained tokenizer applied at corpus grain: per document,
    * word count, total Viterbi piece count, pieces-per-word
    * fertility, and a path signature (FNV of each word's
    * '|'-joined segmentation mod 2^53, summed — an exact witness of
    * every segmentation decision in the document, order-free). */
  def applyTokenizer(docs: DataFrame, iters: Int = 2,
            vocabSize: Int = DefaultVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probs = trainModel(docs, iters, vocabSize)
      .map(t => t._1 -> t._3).toMap
    val bp = spark.sparkContext.broadcast(probs)
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        var np = 0L
        var sig = 0L
        toks.foreach { w =>
          val pieces = viterbi(w, bp.value)
          np += pieces.length
          sig += java.lang.Long.remainderUnsigned(
            fnv64(pieces.mkString("|", "|", "")), 9007199254740992L)
        }
        (id, toks.length.toLong, np,
          if (toks.isEmpty) 0.0
          else BigDecimal(np.toDouble / toks.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          sig)
      }
      .toDF("doc_id", "n_words", "n_pieces", "pieces_per_word", "path_sig")
  }

  /** FNV-1a over UTF-8 bytes — the repo's standard replayable hash
    * (same fold the mm oracles replay as a HUGEINT list_reduce). */
  private def fnv64(s: String): Long = {
    var h = -3750763034362895579L // 14695981039346656037 as signed
    s.getBytes("UTF-8").foreach { b =>
      h = (h ^ (b & 0xffL)) * 1099511628211L
    }
    h
  }
}
