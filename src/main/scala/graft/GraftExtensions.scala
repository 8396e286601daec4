package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnShim

import graft.functions.gf

/** SparkSessionExtensions entry point: registers graft's native
  * kernels as SQL functions, so plain `spark.sql` users get them
  * too. Each SQL function calls the `gf` function of the same kernel:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, usage: String)(build: Seq[Expression] => Column): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        (args: Seq[Expression]) => ColumnShim.expression(build(args))))
    def col(e: Expression): Column = ColumnShim.column(e)

    fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors") {
      a => gf.cosineSim(col(a(0)), col(a(1))) }

    fn("deflate_ratio",
      "deflate_ratio(text) - compressed/raw byte ratio (low = repetitive text)") {
      a => gf.deflateRatio(col(a(0))) }

    fn("graft_hash64", "graft_hash64(s) - 64-bit FNV-1a fingerprint") {
      a => gf.hash64(col(a(0))) }

    fn("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array") {
      a => gf.simhash64(col(a(0))) }

    fn("shingle_hashes", "shingle_hashes(tokens, k) - hashes of k-token shingles") {
      a => gf.shingleHashes(col(a(0)), intLit(a(1), "shingle size")) }

    fn("char_shingle_hashes",
      "char_shingle_hashes(s, n) - rolling hashes of char n-grams, O(len)") {
      a => gf.charShingleHashes(col(a(0)), intLit(a(1), "n-gram size")) }

    fn("minhash_signature",
      "minhash_signature(hashes, numPerms, seed) - MinHash signature") {
      a => gf.minhashSignature(col(a(0)), intLit(a(1), "numPerms"), longLit(a(2), "seed")) }

    fn("chunk_md5s",
      "chunk_md5s(text, n) - md5s of non-overlapping n-token chunks (fused)") {
      a => gf.chunkMd5s(col(a(0)), intLit(a(1), "chunk size")) }

    fn("token_ngrams",
      "token_ngrams(text, n) - distinct space-joined token n-grams (fused)") {
      a => gf.tokenNgrams(col(a(0)), intLit(a(1), "gram size")) }

    fn("winnow_fingerprints",
      "winnow_fingerprints(text, n, window) - winnowing fingerprints (windowed-min gram md5s)") {
      a => gf.winnowFingerprints(col(a(0)), intLit(a(1), "gram size"), intLit(a(2), "window")) }

    fn("dup_ngram_coverage",
      "dup_ngram_coverage(tokens, minN, maxN) - [tok_chars, covered chars of duplicated n-grams per n]") {
      a => gf.dupNgramCoverage(col(a(0)), intLit(a(1), "minN"), intLit(a(2), "maxN")) }

    fn("top_ngram_stats",
      "top_ngram_stats(tokens, minK, maxK) - [max count, top-gram char length per k]") {
      a => gf.topNgramStats(col(a(0)), intLit(a(1), "minK"), intLit(a(2), "maxK")) }

    fn("token_dropout",
      "token_dropout(text, doc_id, threshold_hex, salt) - deterministic " +
        "positional token dropout (fused; drop iff md5(id:pos:salt)[:8] < threshold)") {
      a => gf.tokenDropoutAt(col(a(0)), col(a(1)),
        stringLit(a(2), "threshold_hex"), stringLit(a(3), "salt")) }
  }
}
