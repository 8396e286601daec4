package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Candidate-recall of the randomized near-dup paths measured
  * against the deterministic exactness anchor
  * ([[Dedup.blockedJaccardPairs]] — oracle-checked end to end): on a
  * seeded corpus of base docs + high-similarity mutations, each LSH
  * path must recover at least a stated fraction of the anchor's
  * exact pair set. This is the bound the rows-only oracle status of
  * the LSH ops leans on.
  */
class DedupRecallSpec extends SparkSpec {
  import spark.implicits._

  // 60 base docs of 30 tokens from a 500-token vocabulary; each base
  // doc gets a mutation with 0 or 1 tokens replaced → token-3-gram
  // Jaccard ≥ ~0.8, the "true near-duplicate" regime every path's
  // defaults are tuned for
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(500)(i => s"w${i}q") // no prefix-collision tokens
    (0 until 60).flatMap { i =>
      val base = Array.fill(30)(vocab(rnd.nextInt(vocab.length)))
      val mutated = base.clone()
      val replacements = rnd.nextInt(2) // 0 or 1
      (0 until replacements).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = vocab(rnd.nextInt(vocab.length))
      }
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, mutated.mkString(" ")))
    }
  }

  private def docs: DataFrame = corpus.toDF("doc_id", "text")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val anchor: Set[(Long, Long)] =
    pairSet(Dedup.blockedJaccardPairs(docs, n = 3, tau = 0.5))

  private def recall(found: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else (found & truth).size.toDouble / truth.size

  test("anchor finds every planted near-dup pair") {
    // sanity of the ground truth itself: all 60 planted pairs are in
    // the anchor (they share >= 25 of ~31 rare grams)
    val planted = (0 until 60).map(i => (2L * i, 2L * i + 1)).toSet
    assert((anchor & planted) == planted,
      s"anchor missed ${(planted -- anchor).size} planted pairs")
  }

  test("minhash LSH candidate recall >= 0.9 against the exact anchor") {
    // same similarity space (token 3-gram Jaccard), same tau: recall
    // is purely the banding miss rate, 1-(1-J^4)^16 ~ 0.9998 at J=0.8
    val found = pairSet(Dedup.minhashPairs(
      SharedTrunks.shingles(docs, 3), tau = 0.5))
    val r = recall(found, anchor)
    assert(r >= 0.9, s"minhash recall $r over ${anchor.size} anchor pairs")
  }

  test("char-ngram LSH candidate recall >= 0.85 against the exact anchor") {
    // different gram space (char 5-grams) — a token swap costs
    // proportionally more char grams, so the verified char Jaccard
    // sits lower; tau=0.5 keeps the verifier permissive and recall
    // measures candidate banding
    val found = pairSet(Dedup.ngramJaccardPairs(docs, n = 5, tau = 0.5))
    val r = recall(found, anchor)
    assert(r >= 0.85, s"char-ngram recall $r over ${anchor.size} anchor pairs")
  }

  // planted EMBEDDING near-dup corpus (the testdata embeddings are
  // independent random vectors — no cosine-0.9 pairs exist there, so
  // a testdata-anchored recall spec would be vacuously green): 80
  // seeded base vectors in the driver's 64-dim space, each with a
  // noise-perturbed copy (cosine ≈ 0.97) and every fourth with a
  // SECOND-generation mutation — a chain a≈b≈c whose ends may fall
  // below τ, which is exactly the transitive-closure case SemDeDup
  // clustering exists for
  private lazy val plantedEmb: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(v: Array[Float], sigma: Double): Array[Double] =
      v.map(x => x + sigma * rnd.nextGaussian())
    val rows = (0 until 80).flatMap { i =>
      val base = unit(Array.fill(64)(rnd.nextGaussian()))
      val mut = unit(perturb(base, 0.04))
      val chain = if (i % 4 == 0)
        Seq((100000L + i, unit(perturb(mut, 0.04)))) else Seq.empty
      Seq((10L * i, base), (10L * i + 1, mut)) ++ chain
    }
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  test("embedding LSH pairs: exact-verified subset of the anchor, recall >= 0.8, keep-parity >= 0.95") {
    // the scale pair source behind dedup_embedding_groups_lsh, at the
    // driver key's exact parameters (tau=0.9, default tables/planes),
    // anchored to the O(n²) exact relation the oracle checks
    val emb = plantedEmb
    val exactPairs = pairSet(Dedup.embeddingPairsExact(emb, tau = 0.9))
    assert(exactPairs.size >= 80,
      s"corpus regression: only ${exactPairs.size} exact anchor pairs planted")
    val lshPairs = pairSet(Dedup.embeddingPairs(emb, tau = 0.9))
    // precision is 1.0 by construction — every candidate is verified
    // with the same exact cosine — so any non-anchor pair is a bug
    assert((lshPairs -- exactPairs).isEmpty,
      s"LSH emitted ${(lshPairs -- exactPairs).size} pairs outside the exact relation")
    val r = recall(lshPairs, exactPairs)
    info(f"embedding LSH pair recall $r%.3f over ${exactPairs.size} anchor pairs")
    assert(r >= 0.8, s"embedding LSH pair recall $r over ${exactPairs.size} anchor pairs")

    // downstream parity: the keep/suppress DECISION (what a curation
    // pipeline actually consumes) must agree with the exact closure
    // on nearly every doc — missed pairs can only over-keep, never
    // wrongly suppress a unique doc into someone else's cluster
    def keeps(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.select(col("vec_id"), col("keep")).collect()
        .map(row => row.getLong(0) -> row.getBoolean(1)).toMap
    val exactKeep = keeps(Dedup.embeddingGroups(emb, tau = 0.9))
    val lshKeep = keeps(Dedup.embeddingGroups(emb, tau = 0.9,
      pairs = Some(Dedup.embeddingPairs(emb, tau = 0.9))))
    assert(exactKeep.keySet == lshKeep.keySet)
    val agree = exactKeep.count { case (id, k) => lshKeep(id) == k }
    val parity = agree.toDouble / exactKeep.size
    info(f"keep-decision parity $parity%.3f over ${exactKeep.size} docs")
    assert(parity >= 0.95, s"keep-decision parity $parity (${exactKeep.size} docs)")
    // and the miss direction is the safe one: LSH never suppresses a
    // doc the exact closure keeps... unless a missed pair SPLIT a
    // cluster so a different member became the min-id survivor; what
    // must hold unconditionally is that LSH keeps at least as many
    assert(lshKeep.count(_._2) >= exactKeep.count(_._2),
      "LSH closure suppressed more docs than the exact closure")
  }

  test("simhash candidate recall >= 0.75 on anchor pairs within its radius") {
    // simhash answers a different question (Hamming on a 64-bit
    // sketch), so the fair denominator is anchor pairs whose TRUE
    // hamming is within the verifier radius; the assertion then
    // isolates the banding miss rate
    val sigs = docs.select(col("doc_id"),
      graft.functions.gf.simhash64(
        graft.operators.TextAnalysis.tokens(
          graft.operators.TextAnalysis.canonical(col("text")))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxHamming = 16
    val inRadius = anchor.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxHamming }
    assert(inRadius.size >= anchor.size / 2,
      s"corpus regression: only ${inRadius.size}/${anchor.size} anchor pairs within radius")
    val found = pairSet(Dedup.simhashPairs(docs, bands = 8, maxHamming = maxHamming))
    val r = recall(found, inRadius)
    assert(r >= 0.75, s"simhash recall $r over ${inRadius.size} in-radius pairs")
  }
}
