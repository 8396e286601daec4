package graft

import org.apache.spark.scheduler._

/** Dev profiler: job-level wall breakdown of ONE SparkEntry key.
  * Tiny-data keys are stage-count-bound (each AQE exchange
  * materializes as its own ~60-120ms job), so the first question
  * about a slow key is "how many jobs, and which are real work" —
  * this prints exactly that.
  *
  * {{{ sbt "runMain graft.Prof text_bm25_maxscore /root/testdata/sf0.1" }}}
  */
object Prof {

  /** Splits the arguments into query keys and the SF dir (at most
    * one). An argument that contains a path separator or names an
    * existing directory is the SF dir, so a relative dir such as
    * `sf0.1` works; every other argument must be a known key. Fails
    * before any session starts. */
  def parseArgs(args: Seq[String]): (Seq[String], Seq[String]) = {
    val (dirs, keys) = args.partition(a => a.contains('/') ||
      a.contains(java.io.File.separatorChar) || new java.io.File(a).isDirectory)
    require(dirs.size <= 1, s"more than one SF dir: ${dirs.mkString(", ")}")
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    (keys, dirs)
  }

  def main(args: Array[String]): Unit = {
    // several keys in one JVM
    val (keys0, dirs) = parseArgs(args.toSeq)
    val keys = if (keys0.nonEmpty) keys0 else Seq("text_bm25_maxscore")
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-prof")
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]
    val starts = new scala.collection.mutable.HashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = j.time
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs += ((j.jobId, starts.getOrElse(j.jobId, j.time), j.time))
    })
    SparkEntry.primeSharedCaches(spark, sfDir)
    for (key <- keys) {
      // GRAFT_PROF_WARM=1: run the key once untimed first, so the
      // profiled run matches the bench's shipped min-of-two (lazy
      // store builds and JIT land in the warm pass, not the numbers)
      if (sys.env.get("GRAFT_PROF_WARM").contains("1"))
        SparkEntry.queries(key)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      Thread.sleep(500); jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val sum = jobs.map { case (_, s, e) => e - s }.sum / 1e3
      println(f"KEY $key WALL: $wall%.3f s, jobs: ${jobs.size}, job-time sum: $sum%.3f s")
      jobs.sortBy(_._1).foreach { case (id, s, e) =>
        println(f"  job $id%3d ${(e - s) / 1e3}%8.3f s")
      }
    }
    spark.stop()
  }
}
