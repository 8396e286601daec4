package graft

import graft.operators.TextAnalysis

/** Property check for the duplicate-span family: on randomized
  * corpora (tiny vocabulary → natural cross-doc 8-gram collisions,
  * plus planted verbatim runs), [[TextAnalysis.dupSpans]] must equal
  * an independent brute-force reference — every duplicated position
  * found by scanning ALL gram occurrences, chained into maximal
  * runs by a plain fold. Catches window/exchange bugs (lost
  * positions, split islands) that a hand-computed fixture can miss.
  */
class DupSpanPropertySpec extends SparkSpec {
  import spark.implicits._

  private val N = 8

  private def reference(docs: Seq[(Long, Vector[String])])
      : Map[Long, Seq[(Long, Long)]] = {
    val grams = docs.flatMap { case (id, toks) =>
      (0 to toks.length - N).map(s => (toks.slice(s, s + N).mkString(" "), id))
    }
    val dupG = grams.groupBy(_._1).collect {
      case (g, occ) if occ.map(_._2).distinct.size >= 2 => g
    }.toSet
    docs.flatMap { case (id, toks) =>
      val covered = (0 to toks.length - N)
        .filter(s => dupG(toks.slice(s, s + N).mkString(" ")))
        .flatMap(s => s until s + N).distinct.sorted
      if (covered.isEmpty) None
      else {
        val spans = covered.foldLeft(List.empty[(Int, Int)]) {
          case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse.map { case (a, b) => (a.toLong, b.toLong) }
        Some(id -> spans)
      }
    }.toMap
  }

  test("dupSpans equals the brute-force reference on randomized corpora") {
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 4) {
      val nDocs = 6 + rnd.nextInt(5)
      val base = (0L until nDocs.toLong).map { id =>
        val len = 60 + rnd.nextInt(60)
        // 3-word vocabulary: ~3^8 gram space vs hundreds of draws —
        // natural cross-doc duplicates appear without planting
        id -> Vector.fill(len)(s"t${rnd.nextInt(3)}")
      }
      // plus a planted verbatim run with a UNIQUE vocabulary so at
      // least one deterministic multi-gram span exists each round
      val run = Vector.tabulate(12 + rnd.nextInt(8))(i => s"u$round$i")
      val docs = base.map { case (id, toks) =>
        if (id <= 1) {
          val at = rnd.nextInt(toks.length - 1) + 1
          id -> (toks.take(at) ++ run ++ toks.drop(at))
        } else id -> toks
      }
      val want = reference(docs)
      val df = docs.map { case (id, t) => (id, "s", t.mkString(" ")) }
        .toDF("doc_id", "source", "text")
      val got = TextAnalysis.dupSpans(df, SharedTrunks.dupStarts(df))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
      assert(got == want.view.mapValues(_.sortBy(_._1)).toMap,
        s"round $round: spans diverge from the reference\n" +
          s"got:  ${got.toSeq.sortBy(_._1)}\nwant: ${want.toSeq.sortBy(_._1)}")
    }
  }

  test("dupSpansApply: a LONG fully-duplicated doc cuts to empty in one pass") {
    // the exact target of the r14 O(len) mask/merge rewrite: two
    // long verbatim copies — every position covered, |starts| ≈ len.
    // The former array_contains(covered, i) rewrite paid O(len²)
    // here; the merged-span walk must stay linear AND produce the
    // identical residual (empty) and removal count (all tokens).
    val len = 4000
    val long = Vector.tabulate(len)(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, "s", long), (1L, "s", long),
      (2L, "s", Vector.tabulate(40)(i => s"solo$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupSpansApply(docs, SharedTrunks.dupStarts(docs)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    Seq(0L, 1L).foreach { id =>
      assert(out(id) == ((len.toLong, len.toLong, "")),
        s"doc $id must cut to empty: ${out(id)._1} toks, " +
          s"${out(id)._2} removed")
    }
    assert(out(2L)._2 == 0L && out(2L)._3.startsWith("solo0 "),
      "the unique doc passes through verbatim")
  }

  test("dupSpansApply: interleaved dup/clean segments rebuild exactly") {
    // many SEPARATE merged spans per doc (the other shape the merge
    // walk must get right): three distinct shared runs split by
    // unique filler; residual = the filler in order
    val runA = (0 until 9).map(i => s"a$i")
    val runB = (0 until 10).map(i => s"b$i")
    val runC = (0 until 8).map(i => s"c$i")
    def fill(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val d0 = fill("x", 5) ++ runA ++ fill("y", 4) ++ runB ++
      fill("z", 6) ++ runC ++ fill("q", 3)
    val d1 = runA ++ fill("m", 7) ++ runB ++ fill("n", 2) ++ runC
    val docs = Seq((0L, "s", d0.mkString(" ")), (1L, "s", d1.mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupSpansApply(docs, SharedTrunks.dupStarts(docs)).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(out(0L) == ((27L,
      (fill("x", 5) ++ fill("y", 4) ++ fill("z", 6) ++ fill("q", 3))
        .mkString(" "))), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((27L,
      (fill("m", 7) ++ fill("n", 2)).mkString(" "))), s"doc 1: ${out(1L)}")
  }
}
