package graft.streaming

import graft.model.{GraftStore, TableLoader}
import graft.ops.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Raw event shape for the memory-stream tests (top-level: Spark
  * product encoders can't capture an inner class's outer pointer). */
case class Ev(path: String, parent: String, indexTime: Long,
              kind: String, tag: String)

/** The exact column set Spark's Kafka source produces (key/value are
  * BINARY there; timestampType tags log-append vs create time). The
  * command-source e2e drives ingest through this schema so the test
  * proves the Kafka-format contract, not just a string stream. */
case class KafkaRec(key: Array[Byte], value: Array[Byte], topic: String,
                    partition: Int, offset: Long,
                    timestamp: java.sql.Timestamp, timestampType: Int)

/** qstream/subscribe over Structured Streaming micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSuite.session

  /** Shape a raw event stream into the infoton schema. */
  private def infotonize(df: DataFrame): DataFrame =
    df.select(
      struct(col("path"), col("parent"),
        lit(null).cast("timestamp").as("lastModified"),
        lit("stream").as("lastModifiedBy"), lit(null).cast("string").as("uuid"),
        lit("local").as("dc"), col("indexTime"), lit(true).as("current"),
        col("kind"), lit("cmwell").as("protocol")).as("system"),
      map(lit("tag"), array(TableLoader.sVal(col("tag")))).as("fields"))

  private def store: GraftStore =
    new GraftStore(spark, spark.emptyDataFrame, Map("tag" -> "s"))

  /** Asserts the last micro-batch's physical plan, as `q.explain()`
    * prints it, names every one of `nodes`. */
  private def assertPlanHas(q: StreamingQuery, nodes: String*): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(q.explain())
    val plan = buf.toString("UTF-8")
    nodes.foreach(n => assert(plan.contains(n), s"no $n in\n$plan"))
  }

  test("subscribe tags matching rules per micro-batch, drops the rest") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val matched = Streaming.subscribe(infotonize(ms.toDF()), store, Seq(
      Streaming.Rule("red-watcher", "/ev", Some("tag::red")),
      Streaming.Rule("all-watcher", "/ev")))
    val q = matched
      .select(col("system.path").as("path"), col("subscribers"))
      .writeStream.format("memory").queryName("subs")
      .outputMode("append").start()
    try {
      ms.addData(
        Ev("/ev/1", "/ev", 10L, "ObjectInfoton", "red"),
        Ev("/ev/2", "/ev", 11L, "ObjectInfoton", "blue"),
        Ev("/other/3", "/other", 12L, "ObjectInfoton", "red"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM subs").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(rows == Map(
        "/ev/1" -> Set("red-watcher", "all-watcher"),
        "/ev/2" -> Set("all-watcher")))
      // second micro-batch keeps flowing through the same plan
      ms.addData(Ev("/ev/4", "/ev", 13L, "ObjectInfoton", "red"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM subs").count() == 3)
    } finally q.stop()
  }

  test("qstream filters by search request + indexTime offset") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val out = Streaming.qstream(infotonize(ms.toDF()), store,
      Search.Request(path = "/ev", qp = Some("tag::red")),
      fromIndexTime = 10L)
    val q = out.select(col("system.path").as("path"))
      .writeStream.format("memory").queryName("qs")
      .outputMode("append").start()
    try {
      ms.addData(
        Ev("/ev/1", "/ev", 10L, "ObjectInfoton", "red"),   // at offset: excluded
        Ev("/ev/2", "/ev", 11L, "ObjectInfoton", "red"),   // in
        Ev("/ev/3", "/ev", 12L, "ObjectInfoton", "blue"),  // qp miss
        Ev("/ev/4", "/ev", 13L, "DeletedInfoton", "red"))  // tombstone
      q.processAllAvailable()
      val got = spark.sql("SELECT path FROM qs").collect().map(_.getString(0))
      assert(got.toSet == Set("/ev/2"))
    } finally q.stop()
  }

  test("ingestCommands merges each micro-batch onto the evolving store") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val stores = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = Streaming.ingestCommands(ms.toDF(),
      graft.ingest.Ingest.emptyStore(spark),
      e => java.sql.Timestamp.valueOf(s"2024-01-0${e + 1} 00:00:00")) {
        (store, epoch) =>
          stores.put(epoch, store.where(
            col("system.path").startsWith("/doc/")).count())
      }.start()
    try {
      ms.addData("<c://doc/1> <c://o#tag> \"red\" .")
      q.processAllAvailable()
      // batch 2 updates doc/1 (new version) and writes doc/2
      ms.addData(
        "<c://doc/1> <c://o#tag> \"blue\" .",
        "<c://doc/2> <c://o#tag> \"green\" .")
      q.processAllAvailable()
      assert(stores.get(0L) == 1L) // one version of doc/1
      assert(stores.get(1L) == 3L) // two versions of doc/1 + doc/2
    } finally q.stop()
  }

  test("ingestCommands consumes the Kafka source schema end-to-end") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // reference shape: the bg ImpStream consumes persist_topic records
    // whose key is the infoton path and whose value is the serialized
    // command payload; here the stream carries the full Kafka column
    // set and ingestCommands must read `value` (binary → string cast)
    // and ignore the rest
    val ms = MemoryStream[KafkaRec]
    def rec(path: String, line: String, off: Long) = KafkaRec(
      path.getBytes("UTF-8"), line.getBytes("UTF-8"), "persist_topic",
      0, off, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0)
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val tags = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val q = Streaming.ingestCommands(ms.toDF(),
      graft.ingest.Ingest.emptyStore(spark),
      e => java.sql.Timestamp.valueOf(s"2024-01-0${e + 1} 00:00:00")) {
        (store, epoch) =>
          counts.put(epoch,
            store.where(col("system.path").startsWith("/k/")).count())
          tags.put(epoch, store
            .where(col("system.path") === "/k/1" && col("system.current"))
            .select(element_at(col("fields")("tag"), 1).getField("s"))
            .head().getString(0))
      }.start()
    try {
      ms.addData(rec("/k/1", "<c://k/1> <c://o#tag> \"red\" .", 0L))
      q.processAllAvailable()
      ms.addData(
        rec("/k/1", "<c://k/1> <c://o#tag> \"blue\" .", 1L),
        rec("/k/2", "<c://k/2> <c://o#tag> \"green\" .", 2L))
      q.processAllAvailable()
      assert(counts.get(0L) == 1L)
      assert(counts.get(1L) == 3L) // two versions of /k/1 + /k/2
      assert(tags.get(0L) == "red")
      assert(tags.get(1L) == "blue") // batch 2 superseded the value
    } finally q.stop()
  }

  test("windowedCounts aggregates event-time windows and drops late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val windowed = Streaming.windowedCounts(
      ms.toDF().toDF("ts", "k"), "ts", "10 minutes", "5 minutes",
      keys = Seq("k"))
    val q = windowed.writeStream.format("memory").queryName("win")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      ms.addData(
        (t("2024-01-01 00:01:00"), "a"),
        (t("2024-01-01 00:02:00"), "a"),
        (t("2024-01-01 00:03:00"), "b"))
      q.processAllAvailable()
      // advance the watermark far past the first window so it closes
      ms.addData((t("2024-01-01 01:00:00"), "a"))
      q.processAllAvailable()
      // a row 55+ min late lands behind the watermark — dropped, the
      // closed window's count must not change
      ms.addData((t("2024-01-01 00:04:00"), "a"))
      q.processAllAvailable()
      ms.addData((t("2024-01-01 02:00:00"), "a")) // close everything
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, k, n FROM win ORDER BY window_start, k")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((t("2024-01-01 00:00:00"), "a", 2L)))
      assert(rows.contains((t("2024-01-01 00:00:00"), "b", 1L)))
      assertPlanHas(q, "EventTimeWatermark", "StateStoreSave")
    } finally q.stop()
  }

  test("dedupStream passes first arrival, drops in-horizon duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = Streaming.dedupStream(
      ms.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      ms.addData(
        (t("2024-01-01 00:01:00"), 1L, "alpha"),
        (t("2024-01-01 00:02:00"), 2L, "alpha"), // same-batch dup
        (t("2024-01-01 00:03:00"), 3L, "beta"))
      q.processAllAvailable()
      // next batch inside the horizon: alpha still a known digest
      ms.addData((t("2024-01-01 00:05:00"), 4L, "alpha"),
        (t("2024-01-01 00:06:00"), 5L, "gamma"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sdedup")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L))
      assertPlanHas(q, "EventTimeWatermark",
        "StreamingDeduplicateWithinWatermark")
    } finally q.stop()
  }

  test("sessionizeStream merges in-horizon arrivals and emits sessions " +
      "once the watermark closes them") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val sessions = Streaming.sessionizeStream(
      ms.toDF().toDF("ts", "user_id"), gapMinutes = 30, lateness = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      ms.addData((t("2024-01-01 00:00:00"), 1L),
        (t("2024-01-01 00:10:00"), 1L))
      q.processAllAvailable()
      // out-of-order but inside the horizon: merges into the open session
      ms.addData((t("2024-01-01 00:05:00"), 1L))
      q.processAllAvailable()
      // user 1 returns after a > 30-min gap → second session; the big
      // jump also advances the watermark past session 1's close
      ms.addData((t("2024-01-01 02:00:00"), 1L))
      q.processAllAvailable()
      ms.addData((t("2024-01-01 05:00:00"), 2L)) // close everything open
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, start_us, last_us, n_events FROM ssess " +
          "ORDER BY user_id, start_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      def us(s: String) = t(s).getTime * 1000L
      assert(rows.contains((1L, us("2024-01-01 00:00:00"),
        us("2024-01-01 00:10:00"), 3L))) // merged 3-event session
      assert(rows.contains((1L, us("2024-01-01 02:00:00"),
        us("2024-01-01 02:00:00"), 1L)))
      assertPlanHas(q, "EventTimeWatermark", "SessionWindowStateStoreSave",
        "MergingSessions")
    } finally q.stop()
  }

  test("currentFlags maintains latest-wins state and emits dethrone flips") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Streaming.VersionIn]
    val flags = Streaming.currentFlags(ms.toDS())
    val q = flags.writeStream.format("memory").queryName("scur")
      .outputMode("append").start()
    try {
      // batch 1: two versions of /a in one batch (any arrival order)
      // + first version of /b
      ms.addData(Streaming.VersionIn("/a", "u2", 20L),
        Streaming.VersionIn("/a", "u1", 10L),
        Streaming.VersionIn("/b", "u3", 5L))
      q.processAllAvailable()
      // batch 2: /a gets a newer version (flip u2), /b a STALE one
      // (emitted already false, state untouched)
      ms.addData(Streaming.VersionIn("/a", "u4", 30L),
        Streaming.VersionIn("/b", "u0", 1L))
      q.processAllAvailable()
      // batch 3: at-least-once REDELIVERY of the live winner — must be
      // a no-op (emitting current=false would un-current /a's live
      // version in a blindly-applying downstream index)
      ms.addData(Streaming.VersionIn("/a", "u4", 30L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT path, uuid, current FROM scur").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      // /a in-batch resolution: u1 current then flipped by u2 —
      // the change-log carries both transitions
      assert(rows.count(_ == (("/a", "u1", true))) == 1)
      assert(rows.count(_ == (("/a", "u1", false))) == 1)
      assert(rows.count(_ == (("/a", "u2", true))) == 1)
      assert(rows.count(_ == (("/a", "u2", false))) == 1)
      assert(rows.count(_ == (("/a", "u4", true))) == 1)
      assert(rows.count(_ == (("/b", "u3", true))) == 1)
      assert(rows.count(_ == (("/b", "u0", false))) == 1)
      // exactly one live current per path at the end of the log
      assert(rows.count(_ == (("/a", "u4", false))) == 0)
      assert(rows.count(_ == (("/b", "u3", false))) == 0)
    } finally q.stop()
  }

  test("streaming ingest composes with currentFlags: change-log lands on the store's flags") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val vs = MemoryStream[Streaming.VersionIn]
    // index side: the change-log maintained by keyed state (∝ live paths)
    val flagsQ = Streaming.currentFlags(vs.toDS()).writeStream
      .format("memory").queryName("ingcur").outputMode("append").start()
    // store side: per-batch merge; the delta feeds the index stream —
    // the ImpStream persist→index split, no store re-read on the index
    @volatile var finalStore: org.apache.spark.sql.DataFrame = null
    val q = Streaming.ingestCommandsWithDelta(ms.toDF(),
      graft.ingest.Ingest.emptyStore(spark),
      e => java.sql.Timestamp.valueOf(s"2024-01-0${e + 1} 00:00:00")) {
        (store, delta, _) =>
          finalStore = store
          vs.addData(Streaming.versionLog(delta).collect().toIndexedSeq: _*)
      }.start()
    try {
      ms.addData("<c://doc/1> <c://o#tag> \"red\" .",
        "<c://doc/2> <c://o#tag> \"x\" .")
      q.processAllAvailable()
      // batch 2 dethrones batch 1's /doc/1 version
      ms.addData("<c://doc/1> <c://o#tag> \"blue\" .")
      q.processAllAvailable()
      flagsQ.processAllAvailable()
      // fold the change-log: live winners are the current=true entries
      // never flipped by a later current=false for the same version
      val log = spark.sql("SELECT path, uuid, current FROM ingcur")
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      val live = log.filter(_._3).filterNot { case (p, u, _) =>
        log.exists(e => !e._3 && e._1 == p && e._2 == u)
      }.map(e => (e._1, e._2)).toSet
      val storeCur = finalStore
        .where(col("system.current") && col("system.uuid").isNotNull)
        .select(col("system.path"), col("system.uuid"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(live == storeCur && live.size == 2)
      // the dethrone flip itself is in the log (blind-apply contract)
      assert(log.count(e => e._1 == "/doc/1" && !e._3) == 1)
    } finally { q.stop(); flagsQ.stop() }
  }

  test("deliver pushes each partition from the executors, not the driver") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    DeliverSink.got.clear()
    val ms = MemoryStream[Ev]
    val matched = Streaming.subscribe(infotonize(ms.toDF()), store,
      Seq(Streaming.Rule("w", "/ev")))
    val q = Streaming.deliver(
      matched.select(col("system.path").as("path")), 100L) { (it, _) =>
        it.foreach(r => DeliverSink.got.add(r.getString(0)))
      }.start()
    try {
      ms.addData(
        Ev("/ev/1", "/ev", 10L, "ObjectInfoton", "red"),
        Ev("/ev/2", "/ev", 11L, "ObjectInfoton", "blue"))
      q.processAllAvailable()
      assert(DeliverSink.got.toArray.toSet ==
        Set[Any]("/ev/1", "/ev/2"))
    } finally q.stop()
  }

  test("multimodal decode composes with streaming micro-batches") {
    // the codec expressions are ordinary Catalyst expressions, so a
    // content stream decodes inside each micro-batch with no special
    // streaming path — new payloads arriving on a feed get decoded +
    // featurized incrementally (the training-pipeline ingest shape)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Array[Byte])]
    val decoded = graft.pipeline.Multimodal.decode(spark,
      ms.toDF().toDF("path", "data"))
    val feats = graft.pipeline.Multimodal.features(decoded)
    val q = feats.writeStream.format("memory").queryName("mmstream")
      .outputMode("append").start()
    try {
      val px = Array.tabulate(64)(_ * 4)
      ms.addData(("/img/s1", graft.pipeline.Png.encodeGray(8, 8, px)))
      q.processAllAvailable()
      ms.addData(("/img/s2", graft.pipeline.Png.encodeGray(8, 8,
        px.map(255 - _))))
      q.processAllAvailable()
      val rows = spark.sql("SELECT path, embedding FROM mmstream")
        .collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
      assert(rows.keySet == Set("/img/s1", "/img/s2"))
      assert(rows.values.forall(_.length == 4))
      // the two gradients are complements (p + p' = 255 per pixel), so
      // each feature pair sums to 1.0 → 4.0 over the vector
      val s1 = rows("/img/s1").sum; val s2 = rows("/img/s2").sum
      assert(math.abs((s1 + s2) - 4.0f) < 1e-3f)
    } finally q.stop()
  }

  test("watermark bounds stateful-operator state: session and dedup " +
      "state rows are evicted once the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the most recent batch that actually ran a state operator
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption.map(_.numRowsTotal).getOrElse(-1L)

    // 200 users, one open session each → 200 state rows; after the
    // two far-future sentinels flush (the throughStream discipline:
    // sentinel 1 advances the watermark, sentinel 2 runs the batch
    // that evicts under it) state must hold only the sentinel user's
    // open session — NOT the stream's history. At 100 TB ingest this
    // bound (open sessions × lateness horizon) is what makes the
    // operator viable; the store provider would be RocksDB
    // (spark.sql.streaming.stateStore.providerClass) so the bounded
    // state also leaves the JVM heap, but the BOUND itself is what
    // this test pins.
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val sess = Streaming.sessionizeStream(
      ms.toDF().toDF("ts", "user_id"), gapMinutes = 30, lateness = "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sbound")
      .outputMode("append").start()
    try {
      ms.addData((0L until 200L).map(u =>
        (t("2024-01-01 00:01:00"), u)): _*)
      q.processAllAvailable()
      assert(stateRows(q) == 200L, "one open session per user")
      ms.addData((t("2024-02-01 00:00:00"), 9999L)) // advance watermark
      q.processAllAvailable()
      ms.addData((t("2024-02-01 00:00:01"), 9999L)) // evict under it
      q.processAllAvailable()
      val after = stateRows(q)
      assert(after <= 2L,
        s"all 200 closed sessions evicted, only the sentinel's open " +
          s"session may remain: $after")
      assert(spark.sql("SELECT count(*) FROM sbound").head().getLong(0)
        == 200L, "every closed session was emitted exactly once")
    } finally q.stop()

    // dedup-within-watermark: 300 distinct digests → 300 state rows;
    // after the sentinels pass the horizon the digest state is evicted
    val ms2 = MemoryStream[(java.sql.Timestamp, Long, String)]
    val ded = Streaming.dedupStream(
      ms2.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    val q2 = ded.writeStream.format("memory").queryName("dbound")
      .outputMode("append").start()
    try {
      ms2.addData((0L until 300L).map(i =>
        (t("2024-01-01 00:01:00"), i, s"doc body $i")): _*)
      q2.processAllAvailable()
      assert(stateRows(q2) == 300L, "one state row per in-horizon digest")
      ms2.addData((t("2024-02-01 00:00:00"), 9000L, "sentinel a"))
      q2.processAllAvailable()
      ms2.addData((t("2024-02-01 00:00:01"), 9001L, "sentinel b"))
      q2.processAllAvailable()
      val after = stateRows(q2)
      assert(after <= 2L,
        s"horizon-expired digests evicted, only sentinel digests may " +
          s"remain: $after")
    } finally q2.stop()
  }
}

/** Executor-side collector for the deliver test (object = static, so
  * the closure serializes by reference; local mode shares the JVM). */
object DeliverSink {
  val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
