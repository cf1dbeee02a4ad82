package graft

import graft.model.GraftStore
import graft.ops.{Consume, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for the consume/streaming-export family
  * (SURVEY.md §2.6) — ordered resumable scans over the /user version
  * stream (indexTime = event ts in micros). */
object ConsumeQueries {

  private def st(s: SparkSession, dir: String): GraftStore =
    GraftStore.forDir(s, dir)

  private def ids(df: DataFrame): DataFrame =
    df.select(Search.fieldN("event_id").cast("long").as("event_id"))
      .orderBy("event_id")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // first _consume chunk (chunk-size 3000, token from create-consumer)
    "q_consume_chunk" -> ((s, dir) => {
      val store = st(s, dir)
      val token = Consume.createConsumer("/user")
      ids(Consume.consume(store, token).chunk)
    }),

    // resume from the returned position token: the SECOND chunk
    "q_consume_resume" -> ((s, dir) => {
      val store = st(s, dir)
      val t0 = Consume.createConsumer("/user")
      val r1 = Consume.consume(store, t0)
      ids(Consume.consume(store, r1.nextToken.get).chunk)
    }),

    // consume with a qp filter: only purchase events flow to the consumer
    "q_consume_filtered" -> ((s, dir) => {
      val store = st(s, dir)
      val token = Consume.createConsumer("/user",
        qp = Some("event_type::purchase"))
      ids(Consume.consume(store, token, chunkSize = 1000).chunk)
    }),

    // bulk-consume: one large indexTime range slice
    "q_bulk_consume" -> ((s, dir) => {
      val store = st(s, dir)
      val token = Consume.createConsumer("/user")
      ids(Consume.bulkConsume(store, token, threshold = 5000).chunk)
    }),

    // EXPANDABLE consume: drain /orders (totalprice filter) in
    // expandable chunks — each chunk gqp-filtered to BUILDING-customer
    // orders then xg-expanded to the customers (reference order
    // gqp→yg→xg). One boundary action per chunk: the chunk is consumed
    // once and expanded lazily through expandChunk (the token-equality
    // pin — consumeExpand's token == plain consume's token — lives in a
    // ScalaTest; by construction it cannot drift here). The drained
    // base rows must still partition the matching set exactly (no
    // loss, no duplication across resumes): the unionAll of the plain
    // chunks is counted ONCE at the end against the matching count.
    // The unioned expansion is chunk-boundary-independent, so it is
    // the oracle-checkable surface (static-row indexTimes are
    // xxhash-based and not SQL-expressible).
    "q_consume_expand" -> ((s, dir) => {
      val store = st(s, dir)
      val qp = Some("totalprice>400000")
      // the invariant under test is token-resume ACROSS expanded
      // chunks, not a fixed chunk byte-size: size the drain to ~3
      // chunks at ANY sf (a fixed 1500 meant 31 chunks × several
      // actions at sf0.1 — 32 s of pure loop overhead). The sizing
      // count is FOLDED into the first boundary probe (consumeSized:
      // one action returns count + quantile boundary + drain hint),
      // so a k-chunk drain costs exactly k driver actions plus the
      // final result materialization.
      val tok0 = Consume.createConsumer("/orders", qp)
      val (first, matching) = Consume.consumeSized(store, tok0,
        targetChunks = 3)
      val chunkSize = math.max(1L, (matching + 2) / 3).toInt
      var expanded = List.empty[DataFrame]
      var plains = List.empty[DataFrame]
      var chunks = 0
      var res = first
      var done = matching == 0
      while (!done) {
        res.nextToken match {
          case None => done = true
          case Some(next) =>
            // the chunk subtree (a pushed consumeView range scan) is
            // referenced ~5× by the final plan (gqp seed + semi base,
            // xg frontier + union, the drained count) and Catalyst
            // inlines each reference — persist it (chunk-sized,
            // released at the end of the query) so the store scan runs
            // once per chunk
            val pinned = res.copy(
              chunk = graft.ops.Caches.persist(res.chunk))
            val exp = Consume.expandChunk(store, pinned,
              xg = Some("refCustomer"),
              gqp = Some(">refCustomer[mktsegment::BUILDING]"))
            expanded ::= exp.chunk.select(col("system.path").as("path"))
            plains ::= pinned.chunk.select(col("system.uuid").as("u"))
            chunks += 1
            // the boundary action already counted the pending rows:
            // an under-full chunk is the last one — skip the final
            // empty-probe action the reference protocol would pay
            if (res.exhausted) done = true
            else res = Consume.consume(store, next, chunkSize)
        }
      }
      // exact-partition check folded INTO the result plan (no driver
      // action of its own): unionAll keeps duplicates, so
      // sum-of-chunk-sizes == matching rows detects both loss and
      // double-consumption at the seams; the 1-row aggregate joins
      // the result as a broadcast scalar
      val drained = plains.reduce(_ unionAll _)
        .agg(count(lit(1)).as("drained_rows"))
      expanded.reduce(_ union _).distinct()
        .crossJoin(broadcast(drained))
        .withColumn("resumed_exactly",
          lit(chunks > 1) && col("drained_rows") === lit(matching))
        .drop("drained_rows")
        .orderBy("path")
    }),

    // create-iterator / next-chunk: three keyset-scroll chunks over
    // /orders, resumed through the returned tokens
    "q_iterator" -> ((s, dir) => {
      val store = st(s, dir)
      var token = Consume.createIterator("/orders")
      val chunks = (1 to 3).map { _ =>
        val r = Consume.nextChunk(store, token, length = 1000)
        token = r.nextToken.get
        r.chunk.select(col("system.path").as("p"))
      }
      chunks.reduce(_ union _).orderBy("p")
    }),

    // exportSlices invariants, lifted to a relational check: the union
    // of slices preserves every row (no loss), ranges are ordered and
    // disjoint (no duplication at seams). The slice summary itself is
    // planner-scalar-sized (n/sliceSize rows), so inspecting it on the
    // driver is the same class as a position token.
    "q_export_slices" -> ((s, dir) => {
      val store = st(s, dir)
      val slices = Consume.exportSlices(store, "/customer", sliceSize = 200)
        .collect()
      val total = slices.map(_.getAs[Long]("rows")).sum
      val ordered = slices.forall(r =>
        r.getAs[Long]("from_it") <= r.getAs[Long]("to_it"))
      val disjoint = slices.sliding(2).forall {
        case Array(a, b) => a.getAs[Long]("to_it") < b.getAs[Long]("from_it")
        case _ => true
      }
      s.range(1).select(lit(total).as("total_rows"),
        lit(ordered).as("ordered"), lit(disjoint).as("disjoint"))
    }),

    // inter-DC sync end-to-end: drain store A with the consume loop,
    // replay each chunk verbatim into store B via `_ow` overwrite, then
    // prove uuid fidelity with a join back to the source
    "q_dc_sync" -> ((s, dir) => {
      val store = st(s, dir)
      val empty = graft.ingest.Ingest.emptyStore(s)
      var mirror = empty
      var res = Consume.consume(store, Consume.createConsumer("/supplier"))
      while (res.nextToken.isDefined) {
        // CUT LINEAGE each replay round (the streaming-ingest
        // discipline, Streaming.ingestCommands): without it the
        // mirror is a k-deep chain of merge plans and every later
        // consume action re-analyzes all of it — the sf10 probe
        // caught the driver spinning single-threaded for >15 min at
        // k=34 chunks (100x suppliers) on Catalyst re-analysis. In
        // production each replay batch lands in the mirror store's
        // parquet and the next reads it back — the same truncation.
        // the previous round's checkpoint is dead once this one exists
        val prev = mirror
        mirror = graft.ops.Caches.localCheckpoint(
          graft.ingest.Merger.overwrite(s, mirror, res.chunk))
        if (prev ne empty) graft.ops.Caches.release(prev)
        res = if (res.exhausted) Consume.Result(res.chunk.limit(0), None)
              else Consume.consume(store, res.nextToken.get)
      }
      val st2 = GraftStore.fromInfotons(s, mirror, Some(store.fieldTypes))
      val src = Search.run(store, Search.Request(path = "/supplier"))
        .select(col("system.path").as("p0"), col("system.uuid").as("u0"))
      Search.run(st2, Search.Request(path = "/supplier"))
        .select(col("system.path").as("p"), col("system.uuid").as("u"),
          Search.fieldN("suppkey").cast("long").as("suppkey"))
        .join(src, col("p") === col("p0"), "left")
        .select(col("suppkey"), (col("u") === col("u0")).as("uuid_match"))
        .orderBy("suppkey")
    }))

  // Oracle: boundary = ts of the chunkSize-th row; chunk = everything
  // <= boundary (the same-indexTime-inclusive set semantics).
  private def chunkSql(lower: String, n: Int, extra: String = "") =
    s"""WITH o AS (SELECT event_id, epoch_us(ts) AS it FROM events
       |  WHERE TRUE $extra),
       |b AS (SELECT max(it) AS bd FROM (SELECT it FROM o WHERE it > $lower
       |  ORDER BY it LIMIT $n))
       |SELECT event_id FROM o WHERE it > $lower AND it <= (SELECT bd FROM b)
       |ORDER BY event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_consume_expand" ->
      """SELECT path, TRUE AS resumed_exactly FROM (
        |  SELECT '/orders/' || CAST(o_orderkey AS VARCHAR) AS path
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice > 400000 AND c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT DISTINCT '/customer/' || CAST(o_custkey AS VARCHAR)
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice > 400000 AND c_mktsegment = 'BUILDING'
        |) ORDER BY path""".stripMargin,
    "q_consume_chunk" -> chunkSql("0", 3000),
    "q_consume_resume" -> chunkSql(
      """(SELECT max(it) FROM (SELECT epoch_us(ts) AS it FROM events
        | ORDER BY it LIMIT 3000))""".stripMargin.replace("\n", " "), 3000),
    "q_consume_filtered" -> chunkSql("0", 1000,
      "AND event_type = 'purchase'"),
    "q_bulk_consume" -> chunkSql("0", 5000),
    "q_iterator" ->
      """SELECT '/orders/' || CAST(o_orderkey AS VARCHAR) AS p FROM orders
        |ORDER BY p LIMIT 3000""".stripMargin,
    "q_export_slices" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows, TRUE AS ordered,
        |TRUE AS disjoint FROM customer""".stripMargin,
    "q_dc_sync" ->
      """SELECT s_suppkey AS suppkey, TRUE AS uuid_match FROM supplier
        |ORDER BY suppkey""".stripMargin)
}
