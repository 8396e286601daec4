package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}

import graft.operators.AnnIndex
import graft.sources.Tables

/** The session-scoped store behind SparkEntry's shared artifacts and
  * AnnIndex's model memo: per-artifact keys, eviction when a context
  * ends, one bus listener per context, and prime billing. */
class SharedArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("eviction: the context sweep clears every session of the " +
    "context — churned sessions included — without stopping it") {
    // touch one shared getter on the suite session AND on a churned
    // newSession of the same context: the context-level sweep must
    // clear both
    SparkEntry.queries("text_cms_token_freq")(spark, sf)
    val churned = spark.newSession()
    SparkEntry.queries("text_cms_token_freq")(churned, sf)
    assert(SharedArtifacts.sessionCacheEntries(spark) > 0 &&
      SharedArtifacts.sessionCacheEntries(churned) > 0,
      "touching a cms key must populate its shared artifact per session")
    // invoke the sweep the ApplicationEnd listener runs, DIRECTLY:
    // posting a synthetic ApplicationEnd onto the live bus also feeds
    // Spark's own AppStatus/SQL listeners on a context still in use
    SharedArtifacts.sessionCacheSweep(spark.sparkContext)
    assert(SharedArtifacts.sessionCacheEntries(spark) === 0,
      "the context sweep must evict the suite session's entries")
    assert(SharedArtifacts.sessionCacheEntries(churned) === 0,
      "the context sweep must evict churned sessions' entries too")
    // and the store keeps working afterwards (rebuild on next touch)
    SparkEntry.queries("text_cms_token_freq")(spark, sf)
    assert(SharedArtifacts.sessionCacheEntries(spark) > 0,
      "a swept artifact must rebuild on the next touch, not wedge")
  }

  /** The bus listeners whose class lives in the graft package — the
    * store's eviction listener is the only graft-authored listener
    * ever registered. Reflection because SparkContext.listenerBus is
    * private[spark] (public at the bytecode level). */
  private def graftBusListeners: Seq[AnyRef] = {
    val bus = spark.sparkContext.getClass
      .getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]]
      .toArray.toSeq.asInstanceOf[Seq[AnyRef]]
      .filter(_.getClass.getName.startsWith("graft."))
  }

  test("listener registration: sweep+touch cycles on a LIVE context " +
    "never stack a second bus listener, and the REAL registered " +
    "listener's ApplicationEnd callback sweeps") {
    SparkEntry.queries("text_cms_token_freq")(spark, sf)
    assert(graftBusListeners.size === 1,
      "exactly one context-level eviction listener on the bus")
    // the regression shape: a direct sweep on the live context that
    // dropped the context's hook would make the next insert register
    // a DUPLICATE listener while the first stays on the bus
    (1 to 3).foreach { _ =>
      SharedArtifacts.sessionCacheSweep(spark.sparkContext)
      SparkEntry.queries("text_cms_token_freq")(spark, sf)
    }
    assert(graftBusListeners.size === 1,
      "a live-context sweep must not make the next touch stack a " +
        "duplicate listener on the bus")
    // drive the REAL registered listener object's callback (not the
    // bus, not the test hook): covers the wiring from registration
    // through onApplicationEnd to the sweep
    assert(SharedArtifacts.sessionCacheEntries(spark) > 0)
    val ev = SparkListenerApplicationEnd(0L)
    graftBusListeners.foreach(_.asInstanceOf[SparkListener].onApplicationEnd(ev))
    assert(SharedArtifacts.sessionCacheEntries(spark) === 0,
      "the registered listener's own onApplicationEnd must sweep")
    SparkEntry.queries("text_cms_token_freq")(spark, sf)
    assert(SharedArtifacts.sessionCacheEntries(spark) > 0,
      "artifacts must rebuild after the listener-driven sweep")
  }

  test("prime_self is exclusive: never exceeds the inclusive " +
    "prime_detail, and a nesting parent's self-time drops") {
    // trailing slash = a distinct (session, dir) key, so the chain
    // rebuilds even if another suite primed the plain dir.
    // split_leakage_pairs consumes sharedBlockedPairs, whose build
    // nests shingle_sets + blocked_cands on the same thread — the
    // nesting case the exclusive-time deduction exists for
    val dir = s"$sf/"
    SparkEntry.primeForKeys(spark, dir,
      Seq("split_leakage_pairs", "docs_curate_full"))
    assert(SparkEntry.primeSelf.nonEmpty, "prime must record builds")
    assert(SparkEntry.primeDetail.contains("blocked_pairs") &&
      SparkEntry.primeDetail.contains("blocked_cands"),
      "the chosen key must actually build the nested chain — " +
        "otherwise the nesting assertion below is vacuous")
    SparkEntry.primeSelf.foreach { case (k, self) =>
      val wall = SparkEntry.primeDetail(k)
      assert(self >= 0 && self <= wall + 1e-9,
        s"$k: exclusive $self must sit within inclusive $wall")
    }
    // blocked_pairs builds shingle_sets + blocked_cands inside it on
    // the same thread — its exclusive time must shed that child time
    for (parent <- Seq("blocked_pairs")
         if SparkEntry.primeDetail.contains(parent) &&
           SparkEntry.primeDetail.contains("blocked_cands")) {
      val wall = SparkEntry.primeDetail(parent)
      val self = SparkEntry.primeSelf(parent)
      val child = SparkEntry.primeDetail("blocked_cands")
      assert(self <= wall - child + 1e-9,
        s"$parent self ($self) must exclude the nested blocked_cands " +
          s"build ($child of $wall)")
    }
    // curate_flags waits for gopher_flagged and dup_ngram_docs, built
    // concurrently on other threads: its exclusive time must shed the
    // wait, which lasts at least as long as the slower of the two
    val flags = Seq("curate_flags", "gopher_flagged", "dup_ngram_docs")
    assert(flags.forall(SparkEntry.primeDetail.contains),
      s"docs_curate_full must build ${flags.mkString(", ")}")
    val wall = SparkEntry.primeDetail("curate_flags")
    val self = SparkEntry.primeSelf("curate_flags")
    val waited = flags.tail.map(SparkEntry.primeDetail).max
    assert(self <= wall - waited + 1e-9,
      s"curate_flags self ($self) must exclude the concurrent builds it " +
        s"waited for ($waited of $wall)")
  }

  test("single flight: two threads that miss one entry at once run " +
    "one build, and both read its value") {
    val s = spark.newSession()
    val k = SharedArtifacts.key[String]("spec_single_flight")
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CyclicBarrier(2)
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = Seq.fill(2)(new Thread(() => {
      start.await()
      read.add(SharedArtifacts.getOrElseUpdate(s, k, sf) {
        builds.incrementAndGet()
        Thread.sleep(300)
        "built"
      })
      ()
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get === 1, "a concurrent miss must wait for the running build")
    assert(read.toArray.toSeq === Seq("built", "built"))
    SharedArtifacts.sessionCacheSweep(spark.sparkContext)
  }

  test("concurrent bodies run in the caller's job group: counted with " +
    "it, and cancelled with it") {
    val sc = spark.sparkContext
    // create the pool threads first, outside any job group: a thread
    // that kept the properties it was created with would not carry the
    // groups set below
    def count(): Long = sc.parallelize(1 to 10, 2).count()
    SharedArtifacts.concurrently(spark)(Seq.fill(4)(() => count()): _*)
    val jobs = jobsStarted(SharedArtifacts.concurrently(spark)(() => count(), () => count()))
    assert(jobs === 2, s"the caller's group was billed $jobs of the two concurrent jobs")

    val group = s"spec-cancel-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.countDown()
    }
    sc.addSparkListener(listener)
    val canceller = new Thread(() =>
      if (started.await(30, java.util.concurrent.TimeUnit.SECONDS))
        sc.cancelJobGroup(group))
    val t0 = System.nanoTime()
    val failed = try {
      canceller.start()
      sc.setJobGroup(group, "cancel spec", interruptOnCancel = true)
      intercept[org.apache.spark.SparkException] {
        SharedArtifacts.concurrently(spark)(() =>
          sc.parallelize(1 to 1, 1).map { x => Thread.sleep(60000); x }.count())
      }
    } finally {
      sc.clearJobGroup()
      canceller.join()
      sc.removeSparkListener(listener)
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(failed.getMessage.contains("cancel"), failed.getMessage)
    assert(waited < 45, s"the cancelled body ran for $waited s")
  }

  test("no silent sharing: artifacts with distinct keys never read " +
    "each other's entries, and a name cannot be claimed twice") {
    val s = spark.newSession()
    val a = SharedArtifacts.key[String]("spec_artifact_a")
    val b = SharedArtifacts.key[String]("spec_artifact_b")
    assert(SharedArtifacts.getOrElseUpdate(s, a, sf)("from a") === "from a")
    assert(SharedArtifacts.getOrElseUpdate(s, b, sf)("from b") === "from b",
      "a second artifact at the same (session, dir) must build its own entry")
    assert(SharedArtifacts.getOrElseUpdate(s, a, sf)("rebuilt") === "from a",
      "a hit must return the stored entry without rebuilding")
    val dup = intercept[IllegalArgumentException] {
      SharedArtifacts.key[String]("spec_artifact_a")
    }
    assert(dup.getMessage.contains("spec_artifact_a"))
    // SparkEntry's artifact names are claimed when it initializes
    SparkEntry.queries.size
    val taken = intercept[IllegalArgumentException] {
      SharedArtifacts.key[String]("shingle_sets")
    }
    assert(taken.getMessage.contains("shingle_sets"))
    SharedArtifacts.sessionCacheSweep(spark.sparkContext)
  }

  test("AnnIndex model memo lives in the store: swept with the " +
    "context, reloaded after a centroid rewrite, no extra listener") {
    val s = spark.newSession()
    val path = Files.createTempDirectory("graft_memo").toString
    def writeCentroids(shift: Float): Unit =
      Seq((0, Seq(shift, 1f)), (1, Seq(shift, 2f))).toDF("cell", "centroid")
        .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeCentroids(0f)
    assert(AnnIndex.loadCentroids(s, path).map(_.toSeq).toSeq ===
      Seq(Seq(0f, 1f), Seq(0f, 2f)))
    assert(SharedArtifacts.sessionCacheEntries(s) === 1,
      "a centroid load must memoize one entry for the session")
    SharedArtifacts.sessionCacheSweep(spark.sparkContext)
    assert(SharedArtifacts.sessionCacheEntries(s) === 0,
      "the context sweep must evict the session's memo entries")
    AnnIndex.loadCentroids(s, path)
    // rewrite in place (what rebuildIvf does): the stamp changes
    writeCentroids(5f)
    assert(AnnIndex.loadCentroids(s, path).map(_.toSeq).toSeq ===
      Seq(Seq(5f, 1f), Seq(5f, 2f)),
      "a rewritten centroid dir must reload, not serve the old model")
    assert(SharedArtifacts.sessionCacheEntries(s) === 1,
      "the reload must replace the stale entry, not add one")
    assert(graftBusListeners.size === 1,
      "the memo must share the store's one eviction listener")
    SharedArtifacts.sessionCacheSweep(spark.sparkContext)
  }

  test("a table file's schema is inferred once per session: the " +
    "second load starts no job") {
    val s = spark.newSession()
    Tables.documents(s, sf)
    val jobs = jobsStarted(Tables.documents(s, sf))
    assert(jobs === 0, s"a second load of one file started $jobs job(s)")
  }

  test("concurrent first loads of one table file infer its schema " +
    "once") {
    val s = spark.newSession()
    val jobs = jobsStarted(SharedArtifacts.concurrently(s)(
      Seq.fill(3)(() => Tables.documents(s, sf)): _*))
    assert(jobs === 1, s"three concurrent first loads started $jobs job(s)")
  }

  test("a table file rewritten with another schema is read with its " +
    "new schema") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_schema").toString
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Seq((1L, "a")).toDF("doc_id", "text"))
    assert(Tables.documents(s, dir).columns.toSeq === Seq("doc_id", "text"))
    write(Seq((2L, 0.5)).toDF("doc_id", "score"))
    val reread = Tables.documents(s, dir)
    assert(reread.columns.toSeq === Seq("doc_id", "score"),
      "a rewritten file must be inferred again, not read with the old schema")
    assert(reread.as[(Long, Double)].collect().toSeq === Seq((2L, 0.5)))
  }
}
