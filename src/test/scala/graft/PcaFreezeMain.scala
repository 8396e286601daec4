package graft

/** Dev tool: trains the PUBLISHED PCA transform and regenerates
  * `operators/PcaFrozen.scala` — the frozen-model-artifact convention
  * that graduated `emb_pca_project` / `ann_pca_topk` from rows-only
  * to full oracles (r16). A 100 TB pipeline does not refit PCA per
  * query; it ships one trained transform and projects every batch
  * through it (the FAISS OPQ/PCA pre-transform economics), so the
  * KEY's contract is "project through the published model", the
  * float-snapped model IS the artifact, and both engines replay the
  * identical literals. [[operators.Pca.fit]] remains the trainer;
  * PcaSpec pins the frozen artifact against a live refit (sign-aligned
  * eigenpair parity) so the artifact cannot drift from the fit code.
  *
  * Run: `sbt "Test/runMain graft.PcaFreezeMain"` after a testdata or
  * fit-algorithm change, commit the regenerated file.
  */
object PcaFreezeMain {
  def main(a: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.embeddings(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val m = operators.Pca.fit(emb, dim = 64, k = 32)
    def fl(x: Float): String = s"${x}f"
    def row(r: Array[Float]): String =
      r.map(fl).grouped(8).map(_.mkString(", "))
        .mkString("Array(\n      ", ",\n      ", ")")
    val src = new StringBuilder
    src ++= "package graft.operators\n\n"
    src ++= "/** The PUBLISHED 64->32 PCA transform - a frozen model\n"
    src ++= "  * artifact, regenerated by graft.PcaFreezeMain (src/test,\n"
    src ++= "  * `sbt \"Test/runMain graft.PcaFreezeMain\"`) from\n"
    src ++= "  * [[Pca.fit]] over the sf0.1 reference corpus and pinned\n"
    src ++= "  * by PcaSpec against a live refit. Both the Spark keys and\n"
    src ++= "  * their DuckDB oracles replay these exact float literals,\n"
    src ++= "  * which is what makes the projection and the two-stage\n"
    src ++= "  * search bit-replayable cross-engine. GENERATED - do not\n"
    src ++= "  * edit by hand. */\n"
    src ++= "object PcaFrozen {\n"
    src ++= "  val mean: Array[Float] = " + row(m.mean) + "\n\n"
    src ++= "  val components: Array[Array[Float]] = Array(\n"
    src ++= m.components.map(c => "    " + row(c).replace("\n      ", "\n        "))
      .mkString("", ",\n", ")\n\n")
    src ++= "  val explainedVariance: Array[Double] = Array(\n    "
    src ++= m.explainedVariance.map(_.toString).grouped(4)
      .map(_.mkString(", ")).mkString(",\n    ") + ")\n\n"
    src ++= s"  val totalVariance: Double = ${m.totalVariance}\n\n"
    src ++= "  val model: Pca.Model =\n"
    src ++= "    Pca.Model(mean, components, explainedVariance, totalVariance)\n"
    src ++= "}\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/PcaFrozen.scala"),
      src.toString)
    println(s"wrote PcaFrozen.scala (k=${m.components.length}, " +
      s"dim=${m.mean.length})")
    spark.stop()
  }
}
