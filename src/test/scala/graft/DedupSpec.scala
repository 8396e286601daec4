package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, lit}

import graft.operators.Dedup

/** Dedup specs on crafted documents with known duplicate structure. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from a warm window sill and the birds sing in the morning light"
  private val nearDup = base.replace("morning", "evening")
  private val caseDup = base.toUpperCase + "  " // exact dup modulo canonicalization
  private val unrelated =
    "completely different content about databases indexes partitions " +
      "shuffles joins aggregates and the relational algebra of query engines"

  private def docs: DataFrame = Seq(
    (0L, base), (1L, caseDup), (2L, nearDup), (3L, unrelated))
    .toDF("doc_id", "text")

  test("exact dedup collapses canonical-equal docs") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("exact report lists only duplicate groups") {
    val rep = Dedup.exactReport(docs).collect()
    assert(rep.length == 1)
    assert(rep(0).getAs[Long]("n_copies") == 2L)
    assert(rep(0).getAs[Long]("min_doc_id") == 0L)
    assert(rep(0).getAs[Long]("max_doc_id") == 1L)
  }

  test("tokenInflation charges duplicate tokens to the copy, not the survivor") {
    val docs = Seq(
      // srcA: a 4-token original + its exact copy (dup: 1 doc, 4 tokens)
      (1L, "alpha beta gamma delta", "srcA"),
      (2L, "alpha beta gamma delta", "srcA"),
      // srcA: a unique 2-token doc
      (3L, "epsilon zeta", "srcA"),
      // srcB: copy of doc 1's text — min-id survivor lives in srcA,
      // so srcB's copy is ALL duplicate (1 doc, 4 tokens of 6)
      (4L, "alpha beta gamma delta", "srcB"),
      (5L, "eta theta", "srcB"))
      .map { case (id, text, src) => (id, text, src, "en", text.length.toLong) }
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val out = Dedup.tokenInflation(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out("srcA") == ((3L, 1L, 10L, 4L, 0.4)), s"srcA: $out")
    assert(out("srcB") == ((2L, 1L, 6L, 4L, 0.666667)), s"srcB: $out")
  }

  test("blocked jaccard matches a naive all-pairs computation exactly") {
    // naive reference: lowercase whitespace tokens → distinct 3-gram
    // strings → rare-gram candidacy (df<=64, >=3 shared) → exact Jaccard
    val texts = Map(0L -> base, 1L -> caseDup, 2L -> nearDup, 3L -> unrelated)
    val gramSets = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
    }
    val df = gramSets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      shared = gramSets(a).intersect(gramSets(b))
      if shared.count(g => df(g) <= 64) >= 3
      j = shared.size.toDouble / gramSets(a).union(gramSets(b)).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    val got = Dedup.blockedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
    assert(got((0L, 1L)) == 1.0) // exact dup modulo canonicalization
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("prefix-filtered exact jaccard is LOSSLESS: equals all-pairs on sf0.001") {
    // the property that separates this tier from the LSH family:
    // the prefix candidate rule must find EVERY pair at J >= tau —
    // reference is the exhaustive all-pairs computation over the
    // driver corpus (planted near-dups included)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shingles = SharedTrunks.shingles(corpus, 3)
    val sets = shingles.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size
      union = sets(a).union(sets(b)).size
      if union > 0 && inter.toDouble / union >= 0.5
    } yield (a, b) -> inter.toDouble / union).toMap
    assert(expected.nonEmpty, "sf0.001 must contain planted near-dups")
    val got = Dedup.prefixJaccardPairs(shingles).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
  }

  test("blocked jaccard never materializes an unbounded posting list") {
    // postings collect through the BOUNDED aggregator (buffer capped
    // at maxDf+1), never a plain collect_set whose buffer grows with
    // a boilerplate gram's document frequency
    val p = Dedup.blockedJaccardPairs(docs, maxDf = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("collect_set"),
      s"no unbounded collect_set may appear in the blocking:\n$p")
    assert(p.toLowerCase.contains("boundedset"),
      s"expected the bounded posting collector:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"bounded collector must partially aggregate map-side:\n$p")
    // the df cap is the size filter over the capped set
    assert("size\\(ids#\\d+, true\\) >= 2".r.findFirstIn(p).isDefined ||
      p.contains("(size(ids"),
      s"expected the df range filter on the capped set:\n$p")

    // semantics unchanged: a corpus-wide gram yields no pairs at
    // maxDf=1... (can't happen with between(2, maxDf)); instead assert
    // the crafted all-docs gram never pairs unrelated docs
    val boiler = Seq(
      (0L, "shared boilerplate header " + base),
      (1L, "shared boilerplate header " + caseDup),
      (2L, "shared boilerplate header " + nearDup),
      (3L, "shared boilerplate header " + unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.blockedJaccardPairs(boiler, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "shared boilerplate header ..." grams have df=4 > maxDf=3 →
    // pruned; unrelated doc must still not pair via boilerplate alone
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "df-capped boilerplate must not create candidate pairs")
    assert(pairs.contains((0L, 1L)), "true dup still found")
  }

  test("blocked pairs are partition-invariant below the df cap") {
    // the bounded collector's partial merge must not depend on how
    // rows land in partitions while groups stay under the cap
    val rnd = new scala.util.Random(5)
    val vocab = Array.tabulate(80)(i => s"v$i")
    val many = (0L until 60L).map { i =>
      i -> Seq.fill(20)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    def pairsOf(parts: Int) = Dedup.blockedJaccardPairs(
        many.toDF("doc_id", "text").repartition(parts), tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsOf(1) == pairsOf(13),
      "pair set must not change with partitioning")
  }

  test("blocked containment catches subset docs that jaccard misses") {
    // doc 1 CONTAINS doc 0 (prefix) plus as much again — Jaccard
    // craters (~0.5 of grams shared) while containment is exactly 1.0
    val superdoc = base + " " + unrelated
    val d = Seq((0L, base), (1L, superdoc), (2L, unrelated))
      .toDF("doc_id", "text")
    val contain = Dedup.blockedContainmentPairs(d, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(contain.contains((0L, 1L)), "contained doc must pair with its superset")
    assert(contain((0L, 1L)) == 1.0, "full containment scores exactly 1.0")
    assert(contain.contains((1L, 2L)), "the other embedded doc pairs too")
    // the symmetric verifier rejects the same pair at matched strictness:
    // jaccard(0,1) ~ |G_base| / (|G_base| + |G_unrelated| + junction) < 0.6
    val jac = Dedup.blockedJaccardPairs(d, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((0L, 1L)), "jaccard at 0.9 must miss the subset pair")
  }

  test("near-dup suppression keeps the best-quality copy, not the min id") {
    // a near-dup family where the HIGHEST id is the best-quality doc:
    // longer text → higher length factor in the quality score. The
    // uppercase dup (0) tokenizes identically for pairing but scores
    // WORSE than base (stopword check is case-sensitive) — id order
    // must not save it.
    val richer = base + " and the light settles softly over the quiet town"
    val fam = Seq(
      (0L, caseDup),   // near-dup of 1/5, lowest quality (uppercase)
      (1L, base),      // mid quality
      (3L, unrelated), // untouched bystander
      (5L, richer))    // near-dup of 1, best quality, HIGHEST id
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val kept = Dedup.nearDupSuppress(fam).collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L), "unrelated doc must survive")
    assert(kept.contains(5L), "the best-quality copy must survive")
    assert(!kept.contains(0L) && !kept.contains(1L),
      s"beaten copies must drop even with lower ids, kept: $kept")
  }

  test("incremental dedup drops seen docs, pairs only new-vs-corpus") {
    val corpus = Seq((0L, base), (1L, unrelated)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val fresh = Seq(
      (10L, caseDup),      // exact dup (mod canonicalization) of corpus doc 0
      (11L, nearDup),      // near-dup of corpus doc 0, not exact
      (12L, "entirely novel content with words never seen before today"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    val kept = Dedup.incrementalExact(fresh, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L), "only the exact duplicate is dropped")

    val pairs = Dedup.incrementalNearDupPairs(fresh, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 0L)) && pairs.contains((11L, 0L)),
      "both the exact and the near duplicate pair with their corpus source")
    assert(pairs.forall { case (n, c) => n >= 10L && c < 10L },
      "pairs must be oriented new->corpus and never corpus-internal")
    assert(!pairs.exists(_._1 == 12L), "novel doc pairs with nothing")
  }

  test("minhash LSH finds near-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(SharedTrunks.shingles(docs), tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      "near-dup must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("minhash summary marks dominated docs as non-keepers") {
    val s = Dedup.minhashSummary(docs, SharedTrunks.shingles(docs),
        tau = 0.3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(s(0L), "doc 0 is the senior copy")
    assert(!s(1L), "doc 1 duplicates doc 0")
    assert(s(3L), "unrelated doc survives")
    assert(s.size == 4)
  }

  test("simhash finds near-dups with small hamming distance") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) == 0)
    assert(pairs.contains((0L, 2L)), "near-dup within hamming 12")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard catches near-dups at character level") {
    val pairs = Dedup.ngramJaccardPairs(docs, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedupGroups closes transitive chains into components") {
    val ids = (0L to 5L).map(Tuple1(_)).toDF("doc_id")
    // chain 0-1, 1-2 (never 0-2 directly) + isolated pair 3-4 + singleton 5
    val pairs = Seq((0L, 1L, 0.9), (1L, 2L, 0.9), (3L, 4L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.dedupGroups(ids, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L) == (0L, true))
    assert(out(1L) == (0L, false))
    assert(out(2L) == (0L, false), "transitive member must join the component")
    assert(out(3L) == (3L, true))
    assert(out(4L) == (3L, false))
    assert(out(5L) == (5L, true))
  }

  test("dedupGroups equals driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val n = 40
      val edges = Seq.fill(25)((rnd.nextLong(n), rnd.nextLong(n)))
        .filter { case (a, b) => a != b }
      // reference: union-find, components labeled by min member
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n.toInt).map(i => i.toLong -> find(i).toLong).toMap

      val ids = (0L until n).map(Tuple1(_)).toDF("doc_id")
      val pairs = edges.map { case (a, b) => (a, b, 0.9) }.toDF("id_a", "id_b", "jaccard")
      val got = Dedup.dedupGroups(ids, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"round $round: components diverge from union-find")
    }
  }

  test("embedding near-dup finds high-cosine pairs via LSH") {
    val vecs = Seq(
      (0L, Seq.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Seq.tabulate(64)(i => (math.sin(i + 1) * 1.01 + 0.001).toFloat)), // ~parallel
      (2L, Seq.tabulate(64)(i => math.cos(i * 2 + 3).toFloat))) // unrelated
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingGroups closes paraphrase chains; exact pairs anchor the LSH path") {
    // chain: v0 ~ v1 ~ v2 (each ≈ its neighbor, ends NOT directly
    // similar at τ) must land in ONE cluster labeled min id; v3 is
    // isolated and survives alone
    def unit(base: Int => Double, tilt: Double) =
      Seq.tabulate(64)(i => (base(i) + tilt * math.cos(i * 7 + 1)).toFloat)
    val vecs = Seq(
      (10L, unit(i => math.sin(i + 1), 0.0)),
      (11L, unit(i => math.sin(i + 1), 0.22)),
      (12L, unit(i => math.sin(i + 1), 0.44)),
      (13L, Seq.tabulate(64)(i => math.cos(i * 2 + 3).toFloat)))
      .toDF("vec_id", "embedding")
    val tau = 0.97
    val pairs = Dedup.embeddingPairsExact(vecs, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L), (11L, 12L)),
      s"chain must pair only adjacent members at tau=$tau: $pairs")
    val groups = Dedup.embeddingGroups(vecs, tau).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(groups(10L) == ((10L, true)), "min id keeps")
    assert(groups(11L) == ((10L, false)) && groups(12L) == ((10L, false)),
      s"transitive members join the min-id cluster: $groups")
    assert(groups(13L) == ((13L, true)), "isolated vector survives alone")
  }

  test("keepBest: the longest member survives, not the smallest id") {
    val docs = Seq(
      (0L, "a b"),          // in the group, short
      (1L, "a b c d e f"),  // LONGEST -> must keep despite id 1
      (2L, "a b c"),        // in the group
      (9L, "z"))            // isolated -> keeps trivially
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(docs, pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((0L, 6L, true)), s"longest keeps: ${out(1L)}")
    assert(out(0L) == ((0L, 2L, false)) && out(2L) == ((0L, 3L, false)),
      s"min-id member does NOT auto-keep under the length policy: $out")
    assert(out(9L) == ((9L, 1L, true)), "isolated doc survives")
  }

  test("embeddingIncremental: new batch vs corpus, best match rounded-cut, keep on miss") {
    val mk = (f: Int => Double) => Seq.tabulate(64)(i => f(i).toFloat)
    val corpus = Seq(
      (0L, mk(i => math.sin(i + 1))),
      (2L, mk(i => math.cos(i * 2 + 3))))
      .toDF("vec_id", "embedding")
    val fresh = Seq(
      // near-copy of corpus 0 -> matches; orthogonal-ish -> keeps
      (101L, mk(i => math.sin(i + 1) * 1.02 + 0.001)),
      (102L, mk(i => math.sin(i * 5 + 2) * math.cos(i))))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingIncremental(fresh, corpus, tau = 0.95)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val (m, id, cos, keep) = out(101L)
    assert(m == 1L && id == 0L && cos > 0.99 && !keep, s"${out(101L)}")
    assert(out(102L) == ((0L, -1L, -1.0, true)), s"${out(102L)}")
  }

  test("embeddingIncremental: production tau=0.9 binds at the boundary") {
    // the driver fixture runs the corpus-calibrated tau=0.4 (its max
    // pairwise cosine is ~0.51), so this crafted corpus pins the
    // PRODUCTION default: planted near-dup ABOVE 0.9, a close
    // distractor BELOW it — a comparison-semantics regression
    // (wrong norm, wrong cut side, tau drift) flips one of them.
    // cos(theta) construction: the 2-dim rotation of the anchor has
    // exactly the requested cosine against it.
    def tilted(c: Double) = {
      val s = math.sqrt(1 - c * c)
      Seq.tabulate(64)(i =>
        (if (i == 0) c else if (i == 1) s else 0.0).toFloat)
    }
    val corpus = Seq(
      (0L, Seq.tabulate(64)(i => (if (i == 0) 1.0 else 0.0).toFloat)))
      .toDF("vec_id", "embedding")
    val fresh = Seq(
      (201L, tilted(0.95)), // above tau -> semantic dup, suppress
      (202L, tilted(0.85))) // below tau but close -> must keep
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingIncremental(fresh, corpus, tau = 0.9)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val (m, id, cos, keep) = out(201L)
    assert(m == 1L && id == 0L && math.abs(cos - 0.95) < 1e-6 && !keep,
      s"planted near-dup must match the corpus anchor: ${out(201L)}")
    assert(out(202L) == ((0L, -1L, -1.0, true)),
      s"close distractor below tau must keep: ${out(202L)}")
  }

  test("semanticDecontaminate catches the token-disjoint paraphrase n-grams miss") {
    // benchmark item (doc 0, the % 97 slice) and its PARAPHRASE
    // (doc 1): zero shared tokens -> zero shared 3-grams, so the
    // n-gram tier provably passes it; the embeddings sit at cosine
    // ~0.98 -> the semantic tier flags it. doc 2 is unrelated on
    // both planes.
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river"),
      (1L, "a speedy russet vulpine leaps above an idle canine beside that stream"),
      (2L, unrelated))
      .toDF("doc_id", "text")
    val ngramFlagged = graft.operators.TextAnalysis
      .decontaminate(docs, n = 3, benchMod = 97)
      .collect().map(_.getLong(0)).toSet
    assert(!ngramFlagged.contains(1L),
      s"precondition: the token-disjoint paraphrase must PASS the " +
        s"n-gram tier: $ngramFlagged")
    def tilted(c: Double) = {
      val s = math.sqrt(1 - c * c)
      Seq.tabulate(64)(i =>
        (if (i == 0) c else if (i == 1) s else 0.0).toFloat)
    }
    val emb = Seq(
      (0L, tilted(1.0)),   // the benchmark item's embedding
      (1L, tilted(0.98)),  // the paraphrase: nearly parallel
      (2L, Seq.tabulate(64)(i => (if (i == 5) 1.0 else 0.0).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(emb, benchMod = 97, tau = 0.9)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(1L) == ((1L, 0L, true)),
      s"the paraphrase must flag against benchmark item 0: ${out(1L)}")
    assert(out(2L) == ((0L, -1L, false)),
      s"the unrelated doc must pass: ${out(2L)}")
    assert(!out.contains(0L), "benchmark items are not corpus rows")
  }

  test("semanticDecontaminate equals brute force on random embeddings (property)") {
    val rnd = new scala.util.Random(14L)
    for (round <- 1 to 3) {
      val n = 150 + rnd.nextInt(150)
      val dim = 16
      val vecs = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
      val tau = 0.2 + rnd.nextDouble() * 0.3
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        (0 until dim).foreach { i =>
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i) }
        if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val bench = vecs.filter(_._1 % 97 == 0)
      val want = vecs.filter(_._1 % 97 != 0).map { case (id, e) =>
        val ms = bench.filter(b => cos(e, b._2) >= tau)
        id -> (ms.size.toLong, ms.nonEmpty)
      }.toMap
      val got = Dedup.semanticDecontaminate(
          spark.createDataFrame(vecs.map { case (i, e) => (i, e.toSeq) })
            .toDF("vec_id", "embedding"), tau = tau)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
      assert(got == want,
        s"round $round (n=$n, tau=$tau): diverges from brute force\n" +
          s"diff: ${got.toSet.diff(want.toSet).take(5)}")
    }
  }

  test("prefixJaccardCandidates: sf0.1 candidate volume stays under the suffix-filtered bound") {
    // the dedup_exact_jaccard_pairs contract, pinned as VOLUME (the
    // key's cost driver) instead of host-sensitive wall clock: the
    // prefix + length + PPJoin-suffix filters hold the sf0.1
    // candidate count at ~120k (measured 119,807 at r13; the r11
    // suffix-bound figure was ~125k). A lossless-filter regression
    // (prefix too long, suffix bound dropped) blows through this
    // before any bench run would notice.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val sets = Dedup.shingleSets(docs, 3)
    val n = Dedup.prefixJaccardCandidates(sets, 0.5).count()
    assert(n <= 125000L, s"candidate volume regressed: $n > 125000")
    assert(n > 0L, "fixture must generate candidates")
  }

  test("editDistancePairs: banded distance on blocked candidates, threshold binds") {
    val d = Seq(
      (0L, base),
      (1L, nearDup), // one word substituted: distance 6 (morning→evening)
      // shares enough rare grams with base to be a candidate, but the
      // tail rewrite pushes edit distance past the threshold
      (2L, base.take(80) + " entirely rewritten remainder that goes on " +
        "about other things for quite a while longer than before it did"),
      (3L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((0L, 1L)), s"only the small edit survives: $out")
    assert(out((0L, 1L)) == 3L, "morning -> evening is 3 substitutions")
    // raising the threshold admits the candidate it previously banded out
    val wide = Dedup.editDistancePairs(d, maxDist = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((0L, 2L)),
      "the rewritten doc is a candidate and verifies at a loose bound")
  }

  test("cross-source matrix and per-source rate agree with the pair list") {
    val src = Map(0L -> "srcA", 1L -> "srcB", 2L -> "srcA", 3L -> "srcC")
    val srcDocs = Seq(
      (0L, base, "srcA"), (1L, caseDup, "srcB"),
      (2L, nearDup, "srcA"), (3L, unrelated, "srcC"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.blockedJaccardPairs(srcDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must produce near-dup pairs")

    val expMatrix = pairs.groupBy { case (a, b) =>
      val (x, y) = (src(a), src(b))
      if (x <= y) (x, y) else (y, x)
    }.map { case (k, v) => k -> v.length.toLong }
    val gotMatrix = Dedup.crossSourceMatrix(srcDocs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotMatrix == expMatrix)

    val involved = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expRate = src.groupBy(_._2).map { case (s, m) =>
      val n = m.size.toLong
      val hit = m.keys.count(involved).toLong
      s -> ((n, hit, hit.toDouble / n))
    }
    val gotRate = Dedup.nearDupRateBySource(srcDocs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotRate == expRate)

    // pair-reuse overloads: identical results from a materialized list
    val pairList = Dedup.blockedJaccardPairs(srcDocs).localCheckpoint(true)
    assert(Dedup.crossSourceMatrixOf(pairList, srcDocs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      == gotMatrix)
    assert(Dedup.nearDupRateBySourceOf(pairList, srcDocs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap == gotRate)
  }

  test("blocked components close transitively to the min-id label") {
    // fixture pairs: (0,1) exact dup, (0,2)/(1,2) near dup → one
    // triangle {0,1,2} labeled 0; doc 3 is its own singleton
    val labels = Dedup.dedupGroups(docs, Dedup.blockedJaccardPairs(docs))
      .localCheckpoint(true)
    val got = labels.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      0L -> ((0L, true)), 1L -> ((0L, false)),
      2L -> ((0L, false)), 3L -> ((3L, true))))
    val hist = Dedup.clusterSizeHistogram(labels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(3L -> 1L, 1L -> 1L),
      "one triangle cluster and one singleton")
  }

  test("noveltyProfile credits each gram to its lowest doc_id exactly once") {
    val d = Seq(
      (1L, "a b c d"),   // grams {a b c, b c d} — both first
      (2L, "a b c x"),   // {a b c} seen in doc 1, {b c x} novel
      (3L, "a b c d"),   // identical to doc 1 → nothing novel
      (4L, "too short")) // < 3 tokens → no grams, absent from output
      .toDF("doc_id", "text")
    val out = Dedup.noveltyProfile(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map(
      1L -> (2L, 2L, 1.0),
      2L -> (2L, 1L, 0.5),
      3L -> (2L, 0L, 0.0)), s"got $out")
  }

  test("thresholdHistogram: integer buckets, descending cumulative identity") {
    val docs = Seq(
      (1L, "a b c d e f"),        // grams {ab c, b c d, c d e, d e f}
      (2L, "a b c d e f"),        // identical → jaccard 1 → bucket 10
      (3L, "a b c d x y"),        // shares {a b c, b c d} of union 6 → 3/10?
      (4L, "zz qq ww ee rr tt"))  // no shared grams → not a candidate
      .toDF("doc_id", "text")
    val trunk = Dedup.blockingTrunk(docs, n = 3, maxDf = 64, minShared = 1)
    val rows = Dedup.thresholdHistogram(trunk).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical pair lands in bucket 10 exactly (integer arithmetic)
    assert(rows.exists(_._1 == 10L), s"identical pair must hit bucket 10: ${rows.toSeq}")
    // cumulative is the suffix sum in descending-bucket order
    val sorted = rows.sortBy(-_._1)
    val suffix = sorted.map(_._2).scanLeft(0L)(_ + _).tail
    assert(sorted.map(_._3).toSeq == suffix.toSeq,
      s"pairs_at_or_above must be the suffix sum: ${rows.toSeq}")
    // doc 4 shares nothing: it contributes to no pair
    val totalPairs = rows.map(_._2).sum
    assert(totalPairs == 3L, s"pairs among {1,2,3} only: ${rows.toSeq}")
  }

  test("lshBandStats: histogram identities hold and duplicates co-bucket") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"), // dup of 1
      (3L, "completely different text with no shared shingles here at all"))
      .toDF("doc_id", "text")
    val rows = Dedup.lshBandStats(SharedTrunks.shingles(docs), bands = 16)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // identity 1: every band accounts for all 3 docs
    val perBand = rows.groupBy(_._1)
      .map { case (b, rs) => b -> rs.map(t => t._2 * t._3).sum }
    assert(perBand.size == 16 && perBand.values.forall(_ == 3L),
      s"each band must place all docs: $perBand")
    // identity 2: implied_pairs = n_buckets · C(size, 2)
    rows.foreach { case (_, size, nb, pairs) =>
      assert(pairs == nb * size * (size - 1) / 2, s"pair identity: $rows")
    }
    // exact duplicates share every band hash → all 16 bands have a
    // size-2 bucket, and no bucket exceeds 2 (doc 3 shares nothing)
    val size2Bands = rows.filter(_._2 == 2L).map(_._1).distinct
    assert(size2Bands.length == 16, s"dup must co-bucket in every band: $rows")
    assert(rows.forall(_._2 <= 2L), s"no 3-bucket expected: $rows")
  }
}
