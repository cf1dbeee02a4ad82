package graft.ops

import graft.TempDir
import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-intermediates registry and the plan-shape helpers
  * that gate the spread-repartition probes and the persist-before-sort
  * rule. The registry tests pin that one [[Caches.releaseCaches]] call
  * frees everything an operator persisted or checkpointed; the gates
  * exist because `df.rdd` under AQE materializes every query stage of
  * an exchange-bearing plan — these tests pin (a) the shape
  * classification itself and (b) that classifying a plan launches no
  * Spark jobs. */
class CachesSpec extends AnyFunSuite {
  private lazy val s = SparkSuite.session
  private val Sf = "/root/testdata/sf0.001"

  /** Runs `op`, then ONE registry release, and returns the persisted
    * RDDs that were not there before `op` — the leak set. */
  private def leakedBy(op: => Any): Set[Int] = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val keep = op
    Caches.releaseCaches()
    val left = s.sparkContext.getPersistentRDDs.keySet -- before
    // held to here: GC'd frames would drop out of the persisted set on
    // their own and hide a leak
    java.lang.ref.Reference.reachabilityFence(keep)
    left.toSet
  }

  test("registry: mergePruned leaves no persisted RDD after one release") {
    import graft.ingest.Merger
    import graft.ingest.Merger.{Command, FieldValue}
    import s.implicits._
    val store = graft.model.GraftStore.forDir(s, Sf)
    TempDir("caches_spec_merge") { d =>
      val dir = d.toString
      graft.model.GraftStore.cloneInfotons(store.materializedDir.get, dir)
      val cmds = Seq(Command("update", "/customer/1",
        java.sql.Timestamp.valueOf("2024-07-01 00:00:00"),
        fields = Map("acctbal" ->
          Seq(FieldValue("1.0", Some(1.0), None, None, "d", None, None))),
        deleteFields = Map("acctbal" -> Seq.empty))).toDS()
      val left = leakedBy(Merger.mergePruned(s, dir, cmds))
      assert(left.isEmpty, s"persisted RDDs left after release: $left")
    }
  }

  test("registry: a SPARQL p+ select leaves no checkpoint after one release") {
    import s.implicits._
    val store = graft.model.GraftStore.fromInfotons(s,
      graft.ingest.Ingest.ingest(s, graft.ingest.Ingest.emptyStore(s),
        Seq("<c://n/a> <c://o#next> <c://n/b> .",
          "<c://n/b> <c://o#next> <c://n/c> .",
          "<c://n/c> <c://o#next> <c://n/d> .").toDS(),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    store.quads.count() // the store's own view is not the op's
    Caches.releaseCaches()
    val left = leakedBy {
      val r = graft.sparql.Sparql.select(store,
        "SELECT ?o WHERE { <c://n/a> <c://o#next>+ ?o } ORDER BY ?o")
      assert(r.collect().map(_.getString(0)).toSeq ==
        Seq("/n/b", "/n/c", "/n/d"))
      r
    }
    assert(left.isEmpty, s"persisted RDDs left after release: $left")
  }

  test("registry: Dedup intermediates are freed by the one release") {
    val docs = s.read.parquet(s"$Sf/documents.parquet")
    val left = leakedBy {
      val r = graft.pipeline.Dedup.minhashLsh(docs, 2, 32, 8, 0.8)
      r.count()
      r
    }
    assert(left.isEmpty, s"persisted RDDs left after release: $left")
  }

  test("release frees a local checkpoint's blocks") {
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val c = Caches.localCheckpoint((1 to 100).toDF("x").where(col("x") > 5))
    assert(c.count() == 95)
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    Caches.release(c)
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    Caches.releaseCaches() // a second release of the same frame is a no-op
  }

  test("sessionLifetime: what a session cache builds outlives the release") {
    import s.implicits._
    val kept = Caches.sessionLifetime(Caches.persist((1 to 10).toDF("x")))
    assert(kept.count() == 10)
    Caches.releaseCaches()
    assert(kept.storageLevel.useMemory)
    Caches.release(kept)
    assert(!kept.storageLevel.useMemory)
  }

  test("perSession: one build per session and key, in the registered scope") {
    import s.implicits._
    var builds = 0
    // called inside sessionLifetime: the build must still register
    def held = Caches.sessionLifetime(Caches.perSession(s, "caches_spec") {
      builds += 1
      Caches.persist((1 to 10).toDF("x"))
    })
    val f = held
    assert(f.count() == 10)
    assert((held eq f) && builds == 1)
    Caches.releaseCaches()
    assert(!f.storageLevel.useMemory,
      "a memo build's own persists go with the building query's release")
  }

  test("perSession: a cluster build leaves no shingle index after release") {
    TempDir("caches_spec_docs") { dir =>
      // a corpus path no other test reads: its index plan is this test's
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$Sf/documents.parquet"),
        dir.resolve("documents.parquet"))
      val ns = s.newSession()
      Caches.releaseCaches()
      graft.PipelineQueries.all("q_dedup_canonical")(ns, dir.toString)
        .collect()
      Caches.releaseCaches()
      val index = graft.pipeline.Dedup.shingleIndex(
          ns.read.parquet(s"$dir/documents.parquet"), 2)
        .select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      assert(index.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  test("indexArtifact: in-memory corpora of one schema get their own fit") {
    import s.implicits._
    // same schema, same row count, different vectors: equal canonical
    // plans, since a local relation's plan string omits its rows
    def corpus(shift: Float) = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat + shift))
    }.toDF("vec_id", "embedding")
    val a = graft.pipeline.Similarity.kmeansCentroids(corpus(0f), 4, 3)
    val b = graft.pipeline.Similarity.kmeansCentroids(corpus(5f), 4, 3)
    assert(a != b)
    Caches.releaseCaches()
  }

  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(300) } // let any JobStart events drain
    finally s.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("hasExchange: scan/narrow plans are exchange-free") {
    import s.implicits._
    val df = (1 to 100).toDF("x").where(col("x") > 5)
      .select(col("x") * 2 as "y")
    assert(!Caches.hasExchange(df))
  }

  test("hasExchange: groupBy introduces a shuffle exchange") {
    import s.implicits._
    val df = (1 to 100).toDF("x").groupBy(col("x") % 10).count()
    assert(Caches.hasExchange(df))
  }

  test("hasExchange: broadcast joins count as exchanges") {
    import s.implicits._
    val a = (1 to 100).toDF("x")
    val b = (1 to 10).toDF("x")
    val df = a.join(broadcast(b), "x")
    assert(Caches.hasExchange(df))
  }

  test("persistForSort: join-of-scans persists, single scan does not") {
    import s.implicits._
    TempDir("caches_spec_") { dir =>
      (1 to 50).toDF("k").write.mode("overwrite").parquet(s"$dir/a")
      (1 to 10).toDF("k").write.mode("overwrite").parquet(s"$dir/b")
      val a = s.read.parquet(s"$dir/a")
      val b = s.read.parquet(s"$dir/b")
      try {
        val joined = Caches.persistForSort(a.join(b, "k"))
        assert(joined.storageLevel.useMemory,
          "2-scan join shape should persist before a sort")
        val single = Caches.persistForSort(a.where(col("k") > 3))
        assert(!single.storageLevel.useMemory,
          "single-scan shape must not persist")
      } finally Caches.releaseCaches()
    }
  }

  test("hasExchange launches no jobs (unlike .rdd under AQE)") {
    import s.implicits._
    val a = (1 to 100).toDF("x")
    val b = (1 to 10).toDF("x")
    // join + aggregation: .rdd on this plan would materialize its
    // stages; the classification must stay plan-only
    val df = a.join(b, "x").groupBy(col("x") % 3).count()
    val n = countJobs { Caches.hasExchange(df) }
    assert(n == 0, s"hasExchange launched $n jobs")
  }
}
