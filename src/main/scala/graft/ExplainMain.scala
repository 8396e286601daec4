package graft
/** Dev tool: dump physical plans for driver keys (docs/PLANS.md is
  * generated from this output). With no arguments it explains every
  * key in [[SparkEntry.queries]], sorted; arguments name the keys.
  *
  * `GRAFT_EXPLAIN_OUT=<dir>` writes one formatted-mode file per key
  * (`<dir>/<key>_<suffix>.txt`, suffix from `GRAFT_EXPLAIN_SUFFIX`,
  * default `before`) instead of the PLANS.md stream, so two builds'
  * plans can be diffed file by file.
  */
object ExplainMain {
  def main(a: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (a.nonEmpty) a.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val outDir = sys.env.get("GRAFT_EXPLAIN_OUT")
    val suffix = sys.env.getOrElse("GRAFT_EXPLAIN_SUFFIX", "before")
    for (name <- names) {
      outDir match {
        case Some(d) =>
          val plan = SparkEntry.queries(name)(spark, dir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"wrote $d/${name}_$suffix.txt")
        case None =>
          println(s"\n## $name\n")
          println("```")
          println(SparkEntry.queries(name)(spark, dir)
            .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode))
          println("```")
      }
    }
    spark.stop()
  }
}
