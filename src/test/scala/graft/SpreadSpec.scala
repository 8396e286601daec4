package graft

import graft.operators.Spread

/** The input-spread helper's contract: it fixes the
  * single-small-file fixture without ever taxing a well-split scan.
  */
class SpreadSpec extends SparkSpec {

  test("spread widens an under-split input to defaultParallelism") {
    val df = spark.range(1000).toDF("id").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    assert(Spread.spread(df).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("spread is a NO-OP when the scan already has enough splits") {
    val wide = spark.range(1000).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism + 4)
    // eq on the exact plan: no exchange inserted at all
    assert(Spread.spread(wide) eq wide,
      "a well-split input must pass through untouched")
  }

  test("spread reads a planned repartition's count without running a job") {
    // under adaptive execution, `.rdd` of a plan with an exchange runs
    // its map stage: the outer spread must read the inner one's count
    // from the plan, through the filter and projection above it
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    val inner = Spread.spread(narrow).filter("id % 2 = 0").select("id")
    var twice = narrow
    val jobs = jobsStarted {
      twice = Spread.spread(Spread.spread(narrow))
      assert(Spread.spread(inner) eq inner,
        "a repartitioned input already has defaultParallelism partitions")
    }
    assert(jobs == 0, s"spreading a spread input started $jobs job(s)")
    assert(twice.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
