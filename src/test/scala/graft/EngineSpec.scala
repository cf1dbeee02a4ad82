package graft

import graft.ingest.Ingest
import graft.model.{GraftStore, InfotonModel}
import graft.ops.{Consume, Formatters, Search}
import graft.pipeline.{Dedup, Multimodal, Similarity}
import graft.sparql.Sparql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** End-to-end engine semantics over micro-stores built through the
  * ingest path, plus recall/consistency checks for the approximate
  * operators on the sf0.001 fixtures. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val Sf = "/root/testdata/sf0.001"
  private def T(s: String) = Timestamp.valueOf(s)

  private def storeOf(lines: Seq[String], t: Timestamp): GraftStore = {
    import spark.implicits._
    GraftStore.fromInfotons(spark,
      Ingest.ingest(spark, Ingest.emptyStore(spark), lines.toDS(), t))
  }

  private def paths(df: DataFrame): Set[String] =
    df.select("system.path").collect().map(_.getString(0)).toSet

  // ---- SoftBoolean Should semantics (FTSService.scala:1886-1915) ----

  private lazy val tagStore = storeOf(Seq(
    "<c://doc/1> <c://o#tag> \"red\" .",
    "<c://doc/2> <c://o#tag> \"blue\" .",
    "<c://doc/3> <c://o#tag> \"green\" .",
    "<c://doc/3> <c://o#num> \"5\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
    T("2024-01-01 00:00:00"))

  test("namespace-qualified field keys resolve to the canonical key") {
    import graft.qp.Namespaces
    Namespaces.register("o", "c://o#")
    // prefix form — through the vocabulary the data was ingested under
    val p = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("tag.o::red")))
    assert(paths(p) == Set("/doc/1"))
    // full-uri form ($...$ keeps the IRI's :/# out of the qp grammar)
    val u = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("$c://o#tag$::blue")))
    assert(paths(u) == Set("/doc/2"))
    // hash form
    val h = Namespaces.hashOf("c://o#")
    val hh = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some(s"tag.$$$h::green")))
    assert(paths(hh) == Set("/doc/3"))
    // the same local under a DIFFERENT vocabulary resolves to THAT
    // vocabulary's key — no cross-vocabulary aliasing, so it matches
    // nothing here (the data lives in c://o#, not the ont namespace)
    val wrongVocab = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("tag.ont::red")))
    assert(paths(wrongVocab).isEmpty)
    // an unregistered qualifier is treated as a literal dotted field
    // name (RDF local names may contain dots) — matches nothing here
    val dotted = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("tag.oops::red")))
    assert(paths(dotted).isEmpty)
    // the unambiguous forms fail loud on unknown hash / namespace IRI
    intercept[IllegalArgumentException](
      Search.run(tagStore, Search.Request(path = "/doc",
        qp = Some("tag.$deadbeef::red"))).collect())
    intercept[IllegalArgumentException](
      Search.run(tagStore, Search.Request(path = "/doc",
        qp = Some("$cmwell://nope#tag$::red"))).collect())
  }

  test("Should-only bool requires at least one Should to match") {
    val r = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("*tag::red,*tag::blue")))
    assert(paths(r) == Set("/doc/1", "/doc/2"))
  }

  test("Should clauses are non-constraining when a Must is present") {
    val r = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("num::5,*tag::red")))
    assert(paths(r) == Set("/doc/3"))
  }

  test("MustNot over a missing field keeps the row") {
    val r = Search.run(tagStore, Search.Request(path = "/doc",
      qp = Some("-num::5")))
    assert(paths(r) == Set("/doc/1", "/doc/2"))
  }

  // ---- consume same-indexTime edge (Streams.qStream:397-437) ----

  test("consume chunk absorbs the whole same-indexTime tie group") {
    val b1 = (1 to 5).map(i => s"""<c://ev/$i> <c://o#v> "a" .""")
    val b2 = (6 to 10).map(i => s"""<c://ev/$i> <c://o#v> "b" .""")
    import spark.implicits._
    val s1 = Ingest.ingest(spark, Ingest.emptyStore(spark), b1.toDS(),
      T("2024-01-01 00:00:00"))
    val s2 = Ingest.ingest(spark, s1, b2.toDS(), T("2024-01-02 00:00:00"))
    val store = GraftStore.fromInfotons(spark, s2)
    // chunkSize 3 < tie-group size 5: the boundary falls inside a group
    // of equal indexTimes — the chunk must still be a complete set
    val r1 = Consume.consume(store, Consume.createConsumer("/ev"), 3)
    assert(paths(r1.chunk) == (1 to 5).map(i => s"/ev/$i").toSet)
    // full top-N (3 of 10 pending) → not exhausted
    assert(!r1.exhausted)
    val r2 = Consume.consume(store, r1.nextToken.get, 3)
    assert(paths(r2.chunk) == (6 to 10).map(i => s"/ev/$i").toSet)
    assert(!r2.exhausted) // 5 pending > chunkSize 3
    assert(Consume.consume(store, r2.nextToken.get, 3).nextToken.isEmpty)
    // under-full boundary flags the drain hint: chunkSize 7 sees all 5
    // remaining rows, so the next consume is provably empty
    val r2b = Consume.consume(store, r1.nextToken.get, 7)
    assert(r2b.exhausted && r2b.nextToken.isDefined)
    assert(paths(r2b.chunk) == (6 to 10).map(i => s"/ev/$i").toSet)
  }

  test("consumeSized: one probe returns count + boundary; the chain " +
      "with plain consume drains loss-free") {
    val b1 = (1 to 5).map(i => s"""<c://sz/$i> <c://o#v> "a" .""")
    val b2 = (6 to 10).map(i => s"""<c://sz/$i> <c://o#v> "b" .""")
    val b3 = (11 to 15).map(i => s"""<c://sz/$i> <c://o#v> "c" .""")
    import spark.implicits._
    val s1 = Ingest.ingest(spark, Ingest.emptyStore(spark), b1.toDS(),
      T("2024-01-01 00:00:00"))
    val s2 = Ingest.ingest(spark, s1, b2.toDS(), T("2024-01-02 00:00:00"))
    val s3 = Ingest.ingest(spark, s2, b3.toDS(), T("2024-01-03 00:00:00"))
    val store = GraftStore.fromInfotons(spark, s3)
    val (first, n) = Consume.consumeSized(store,
      Consume.createConsumer("/sz"), targetChunks = 3)
    assert(n == 15) // the sizing count, from the SAME action
    // the boundary is an observed indexTime: the chunk is a complete
    // tie-group-closed set (here: exactly the first batch)
    assert(paths(first.chunk) == (1 to 5).map(i => s"/sz/$i").toSet)
    assert(!first.exhausted)
    // the returned token chains into plain consume with the derived
    // chunkSize: the remaining rows drain with no loss, no duplicates
    val chunkSize = ((n + 2) / 3).toInt
    var res = first
    var all = paths(first.chunk).toList
    while (res.nextToken.isDefined && !res.exhausted) {
      res = Consume.consume(store, res.nextToken.get, chunkSize)
      all = all ++ paths(res.chunk).toList
    }
    assert(all.sorted == (1 to 15).map(i => s"/sz/$i").sorted.toList)
    assert(all.distinct.size == 15)
    // empty pending set: no token, zero count
    val (drained, n0) = Consume.consumeSized(store,
      Consume.State("/sz", Long.MaxValue, None).encode, 3)
    assert(n0 == 0 && drained.nextToken.isEmpty)
  }

  test("expandable consume: expansion never moves the position token") {
    // the pin that used to run inside q_consume_expand's drain loop
    // (now single-consume via expandChunk): consumeExpand's token must
    // equal the plain consume's token at every position — gqp may
    // filter a chunk to nothing and xg may add neighbors without ever
    // moving the cursor
    val store = GraftStore.forDir(spark, Sf)
    val qp = Some("totalprice>400000")
    var tok = Consume.createConsumer("/orders", qp)
    var steps = 0
    var sawEmptyExpansion = false
    var done = false
    while (!done && steps < 50) {
      val plain = Consume.consume(store, tok, 20)
      val exp = Consume.consumeExpand(store, tok,
        xg = Some("refCustomer"),
        gqp = Some(">refCustomer[mktsegment::BUILDING]"), chunkSize = 20)
      assert(plain.nextToken == exp.nextToken,
        "expansion moved the position token")
      // expandChunk returns the base token verbatim (by construction)
      assert(Consume.expandChunk(store, plain,
        xg = Some("refCustomer")).nextToken == plain.nextToken)
      plain.nextToken match {
        case None => done = true
        case Some(next) =>
          if (exp.chunk.isEmpty && !plain.chunk.isEmpty)
            sawEmptyExpansion = true
          tok = next; steps += 1
      }
    }
    assert(done, "drain did not terminate")
    assert(steps > 1, "drain must cross at least one resume")
    // informational: a fully-filtered chunk still advanced the cursor
    // if one occurred (data-dependent; the assert above already pinned
    // token equality for every chunk either way)
    if (sawEmptyExpansion) assert(steps > 0)
  }

  test("export slices partition the stream with no loss or overlap") {
    val store = GraftStore.forDir(spark, Sf)
    val slices = Consume.exportSlices(store, "/user", 100).collect()
    val total = Search.run(store,
      Search.Request(path = "/user", withHistory = true)).count()
    assert(slices.map(_.getAs[Long]("rows")).sum == total)
    slices.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("to_it") < b.getAs[Long]("from_it"))
      case _ =>
    }
  }

  test("consume layout: indexTime-major row groups are tight/disjoint " +
      "and a range predicate prunes; path-major row groups are wide") {
    import scala.jdk.CollectionConverters._
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_consume_layout") { d =>
      val dir = d.toString
      // explicit partition count: at sf0.001 the default range split
      // gives /user one bucket — several files per parent are what the
      // row-group-stats contrast needs (and what any real corpus has)
      GraftStore.materializeInfotons(store, dir, Some(48))
      GraftStore.materializeInfotonsByIndexTime(store, dir, Some(48))
      // per-row-group (min, max) of system.indexTime straight from the
      // parquet footers — the stats the reader's row-group skip uses
      def rowGroups(sub: String): Seq[(Long, Long)] = {
        val base = java.nio.file.Paths.get(dir, sub, "__parent=%2Fuser")
        val parentDir =
          if (java.nio.file.Files.exists(base)) base
          else java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub))
            .iterator().asScala.find(_.getFileName.toString
              .matches("__parent=.*user.*")).getOrElse(
            fail(s"no /user partition under $dir/$sub"))
        val conf = spark.sessionState.newHadoopConf()
        java.nio.file.Files.walk(parentDir).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq.flatMap { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getFooter.getBlocks.asScala.toSeq.map { b =>
              val c = b.getColumns.asScala.find(
                _.getPath.toDotString.equalsIgnoreCase("system.indextime"))
                .getOrElse(fail("no system.indexTime column chunk"))
              val st = c.getStatistics
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            } finally r.close()
          }
      }
      val primary = rowGroups("infotons")
      val consume = rowGroups("infotons_consume")
      assert(consume.size >= 3, s"need several row groups, got $consume")
      // consume layout: pairwise DISJOINT indexTime ranges
      val sorted = consume.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1,
          s"overlapping consume row groups: $a vs $b")
        case _ =>
      }
      // a mid-stream chunk window overlaps few consume groups but
      // (path-major sort ⇒ wide stats) most primary groups
      val lo = sorted.head._1; val hi = sorted.last._2
      val w0 = lo + (hi - lo) * 45 / 100
      val w1 = lo + (hi - lo) * 55 / 100
      def overlapping(gs: Seq[(Long, Long)]) =
        gs.count { case (mn, mx) => mx >= w0 && mn <= w1 }
      assert(overlapping(consume) <= 2,
        s"consume layout must prune to the boundary groups: " +
          s"${overlapping(consume)} of ${consume.size}")
      assert(overlapping(primary) >= primary.size / 2,
        s"expected wide primary stats, ${overlapping(primary)} of " +
          s"${primary.size} overlap")
      // both layouts answer the same range predicate identically
      val a = spark.read.parquet(s"$dir/infotons")
        .where(col("system.indexTime") > w0 &&
          col("system.indexTime") <= w1).count()
      val b = spark.read.parquet(s"$dir/infotons_consume")
        .where(col("system.indexTime") > w0 &&
          col("system.indexTime") <= w1).count()
      assert(a == b && b > 0)
    }
  }

  test("consume chunks are SERVED from the secondary layout: the ETL " +
      "publishes infotons_consume and consumeView plans over it") {
    val store = GraftStore.forDir(spark, Sf)
    // the published ETL (layout v2) carries the secondary layout, so
    // consumeView is a distinct store reading it
    assert(store.consumeView ne store,
      "forDir store must serve a real secondary consume view")
    val r1 = Consume.consume(store, Consume.createConsumer("/user"), 100)
    // the executedPlan STRING truncates scan locations — collect the
    // scan nodes and check their root paths directly
    val scans = r1.chunk.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet scan")
    scans.foreach { f =>
      val roots = f.relation.location.rootPaths.map(_.toString)
      assert(roots.forall(_.contains("infotons_consume")),
        s"consume chunk must scan the indexTime-major layout, got $roots")
    }
    // and the range predicate reaches the scan (row-group skip input)
    assert(r1.chunk.queryExecution.executedPlan.toString.contains("indexTime"))
    // same-set contract across layouts: the chunk from the secondary
    // layout equals the primary-layout computation at the same token
    val pending = Search.run(store, Search.Request(path = "/user"))
      .where(col("system.indexTime") > 0L)
    val bd = pending.select(col("system.indexTime").as("it"))
      .orderBy("it").limit(100).agg(max("it")).head().getLong(0)
    val primarySet = paths(pending.where(col("system.indexTime") <= bd))
    assert(paths(r1.chunk) == primarySet)
    // an in-memory store has no secondary layout: identity fallback
    import spark.implicits._
    val mem = GraftStore.fromInfotons(spark, Ingest.ingest(spark,
      Ingest.emptyStore(spark),
      Seq("""<c://m/1> <c://o#v> "a" .""").toDS(),
      T("2024-01-01 00:00:00")))
    assert(mem.consumeView eq mem)
  }

  test("iterator chunks partition the sorted result") {
    val store = GraftStore.forDir(spark, Sf)
    var token = Consume.createIterator("/nation")
    var seen = Vector.empty[String]
    var n = 0
    while ({ n += 1; n < 10 } && token != null) {
      val r = Consume.nextChunk(store, token, 10)
      val chunk = r.chunk.select("system.path").collect().map(_.getString(0))
      assert(chunk.sorted.sameElements(chunk), "chunk is path-ordered")
      assert(!chunk.exists(seen.contains), "no overlap across chunks")
      seen ++= chunk
      token = r.nextToken.orNull
    }
    assert(seen.size == 25) // nations
  }

  // ---- approximate operators vs exact oracles (sf0.001) ----

  private lazy val docs = spark.read.parquet(s"$Sf/documents.parquet")

  test("MinHash-LSH recovers exactly the exact-Jaccard pair set") {
    val exact = Dedup.jaccardPairs(docs, 2, 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 2, 128, 32, 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture has near-dup pairs")
  }

  test("SimHash finds every exact-duplicate pair at hamming 0") {
    val dupPairs = docs.alias("a").join(docs.alias("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue))
    val at0 = found.filter(_._3 == 0L).map(t => (t._1, t._2)).toSet
    assert(dupPairs.subsetOf(at0), "identical docs must collide at distance 0")
  }

  test("LSH-ANN neighbors are a subset of in-bucket exact ranking") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    info(f"ANN recall@5 = $recall%.2f (6 tables x 4 planes, 5 probes)")
    assert(approx.nonEmpty)
    assert(recall >= 0.6, "multi-probe LSH recall collapsed")
  }

  test("multi-probe LSH halves the table count at comparable recall") {
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(tables: Int, probes: Int): Double = {
      val approx = Similarity.lshTopK(emb, queries, 5, tables = tables,
          probes = probes)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val single = recallOf(6, 1)
    val multi = recallOf(6, 5) // own bucket + 4 one-bit flips
    info(f"recall@5: 6 tables single-probe $single%.2f, multi-probe $multi%.2f")
    // probing the Hamming-1 buckets must recover neighbors lost to one
    // wrong hyperplane side — at HALF the index of the 12-table default
    assert(multi > single, "multi-probe added no recall")
    assert(multi >= 0.6, "multi-probe recall collapsed")
  }

  test("IVF-ANN recall against exact top-5") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    info(f"IVF recall@5 = $recall%.2f (nlist=16, nprobe=8, assign=2)")
    assert(approx.size == exact.size)
    // these fixtures are near-uniform on the sphere (nearest neighbors
    // at cosine ≈ 0.35), the adversarial case for cell methods —
    // single-assignment measured 0.40 at nprobe/nlist = 1/2; spill
    // assignment to the 2 nearest cells (the corpus-side analog of
    // multi-probe) lifts it to 0.87 at 2× index size.
    assert(recall >= 0.7, "IVF recall collapsed")
  }

  test("LSH-blocked embedding dup pairs: precision 1.0, measured recall") {
    val exact = Dedup.embeddingDupPairs(emb, 0.35)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingDupPairsLsh(emb, 0.35)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has near-dup embedding pairs")
    // candidates are exact-verified, so every emitted pair is real
    assert(blocked.subsetOf(exact), "blocked pairs must be exact-verified")
    val recall = (blocked intersect exact).size.toDouble / exact.size
    info(f"embedding-dup recall = $recall%.2f (8 tables x 4 planes, " +
      f"${exact.size} exact pairs)")
    // near-uniform fixtures (pairs at cosine ≈ 0.35, θ ≈ 69°) are the
    // adversarial case for hyperplane blocking; on a real near-dup
    // corpus (θ → 0) per-plane agreement → 1 and recall → 1
    assert(recall >= 0.5, "LSH blocking recall collapsed")
  }

  private lazy val emb = spark.read.parquet(s"$Sf/embeddings.parquet")

  // ---- formatter/ingest roundtrip incl. lang + quad ----

  test("nt/nq roundtrip preserves values, types, lang and quad tags") {
    import spark.implicits._
    val src = storeOf(Seq(
      "<c://m/1> <c://o#name> \"gr\\u00FCn\"@de <c://graph/g1> .",
      "<c://m/1> <c://o#size> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://m/1> <c://o#ref> <c://m/2> ."), T("2024-01-01 00:00:00"))
    val lines = Formatters.ntriples(
      src.current.where(col("system.path") === "/m/1")).as[String]
    val back = GraftStore.fromInfotons(spark,
      Ingest.ingest(spark, Ingest.emptyStore(spark), lines, T("2024-02-02 00:00:00")))
    val vals = back.quads.where(col("subject") === "/m/1")
      .select("predicate", "s", "vType", "lang", "quad")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    // the canonical claimed key roundtrips (name/size are loader-owned
    // locals, so the c://o# vocabulary carries qualified keys)
    def k(l: String) = graft.qp.Namespaces.keyOf("c://o#" + l)
    assert(vals == Set(
      (k("name"), "gr\u00fcn", "s", Some("de"), Some("/graph/g1")),
      (k("size"), "7", "l", None, None),
      (k("ref"), "/m/2", "r", None, None)))
  }

  test("jsonldq roundtrips quad and lang tags through the JSON-LD parser") {
    import spark.implicits._
    val src = storeOf(Seq(
      "<c://m/1> <c://o#name> \"gr\\u00FCn\"@de <c://graph/g1> .",
      "<c://m/1> <c://o#size> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://m/1> <c://o#ref> <c://m/2> ."), T("2024-01-01 00:00:00"))
    val docs = Formatters.jsonldqDocs(
      src.current.where(col("system.path") === "/m/1")).as[String]
    // named-graph block present, untagged values in the default node
    val doc = docs.collect().head
    assert(doc.contains("://graph/g1\",\"@graph\":["))
    val back = GraftStore.fromInfotons(spark,
      Ingest.ingestJsonLd(spark, Ingest.emptyStore(spark), docs,
        T("2024-02-02 00:00:00")))
    val vals = back.quads.where(col("subject") === "/m/1")
      .select("predicate", "s", "vType", "lang", "quad")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    // the canonical claimed key roundtrips (name/size are loader-owned
    // locals, so the c://o# vocabulary carries qualified keys)
    def k(l: String) = graft.qp.Namespaces.keyOf("c://o#" + l)
    assert(vals == Set(
      (k("name"), "gr\u00fcn", "s", Some("de"), Some("/graph/g1")),
      (k("size"), "7", "l", None, None),
      (k("ref"), "/m/2", "r", None, None)))
  }

  test("jsonp wraps the envelope and rejects non-identifier callbacks") {
    val store = GraftStore.forDir(spark, Sf)
    val page = Search.run(store, Search.Request(path = "/region"))
    val out = Formatters.jsonp(page, total = 5, offset = 0, length = 5,
      callback = "my.cb")
    assert(out.startsWith("my.cb({\"type\":\"SearchResponse\"") &&
      out.endsWith(");"))
    intercept[IllegalArgumentException](
      Formatters.jsonp(page, 5, 0, 5, callback = "alert(1);//"))
  }

  test("yaml and atom formatters render per-infoton documents") {
    val store = GraftStore.forDir(spark, Sf)
    val regions = Search.run(store, Search.Request(path = "/region"))
    val y = graft.ops.Formatters.yaml(regions).collect().map(_.getString(0))
    assert(y.length == 5 && y.forall(d =>
      d.startsWith("---\nsystem:\n") && d.contains("  path: /region/")))
    val a = graft.ops.Formatters.atomEntries(regions)
      .collect().map(_.getString(0))
    assert(a.forall(e => e.startsWith("<entry><id>/region/") &&
      e.endsWith("</entry>")))
  }

  test("SPARQL DISTINCT deduplicates solutions") {
    val store = GraftStore.forDir(spark, Sf)
    val q = "SELECT DISTINCT ?r WHERE { ?n <cmwell://ont#refRegion> ?r }"
    val distinct = Sparql.select(store, q).count()
    assert(distinct == 5) // 25 nations -> 5 regions
  }

  // ---- SPARQL over quads ----

  test("SPARQL chain query binds across patterns") {
    val store = GraftStore.forDir(spark, Sf)
    val r = Sparql.select(store,
      """PREFIX ont: <cmwell://ont#>
        |SELECT ?n WHERE { ?n ont:refRegion ?r . ?r ont:name "ASIA" }
        |ORDER BY ?n""".stripMargin).collect().map(_.getString(0))
    assert(r.length == 5 && r.forall(_.startsWith("/nation/")))
  }

  test("xg per-level filter values may contain dots") {
    val levels = graft.ops.Graph.parseXg("refPart[retailprice>100.5]", Nil)
    assert(levels == Seq(Seq(
      graft.ops.Graph.Hop(incoming = false, "refPart", Some("retailprice>100.5")))))
  }

  test("trig, trix and rdfxml render statements with graph/type fidelity") {
    val store = storeOf(Seq(
      "<c://f/1> <c://o#tag> \"red\"@en <c://g/1> .",
      "<c://f/1> <c://o#num> \"5\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    val cur = store.current.where(col("system.path") === "/f/1")
    val trig = Formatters.trig(cur).collect().map(_.getString(0)).toSet
    assert(trig.exists(l => l.startsWith("</g/1> {") &&
      l.contains("\"red\"@en") && l.endsWith("}")))
    assert(trig.exists(l => l.contains("XMLSchema#long>") && l.endsWith(".")))
    val trix = Formatters.trix(cur).collect().map(_.getString(0)).toSet
    assert(trix.exists(l =>
      l.contains("<plainLiteral xml:lang=\"en\">red</plainLiteral>")))
    assert(trix.exists(l => l.contains(
      "<typedLiteral datatype=\"http://www.w3.org/2001/XMLSchema#long\">5</typedLiteral>")))
    val xml = Formatters.rdfxml(cur).collect().map(_.getString(0)).head
    assert(xml.startsWith("<rdf:Description rdf:about=\"cmwell://f/1\">"))
    // fields render under their CLAIMED vocabulary (c://o#), via the
    // generated n<nsHash> prefix that rdfxmlWrap declares
    val nh = graft.qp.Namespaces.hashOf("c://o#")
    assert(xml.contains(s"<n$nh:tag xml:lang=" + "\"en\">red</n" + nh + ":tag>"))
    assert(xml.contains(
      s"rdf:datatype=" + "\"http://www.w3.org/2001/XMLSchema#long\">5</n" +
        nh + ":num>"))
    assert(Formatters.rdfxmlWrap._1.contains(s"""xmlns:n$nh="c://o#""""))
  }

  test("search envelope carries pagination and the infoton page") {
    val store = tagStore
    val page = Search.search(store, Search.Request(path = "/doc"),
      offset = 0, length = 2)
    val env = Formatters.searchEnvelope(page, total = 3, offset = 0,
      length = 2, selfPath = "/doc")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(env)
    assert(root.get("type").asText() == "SearchResponse")
    val pag = root.get("pagination")
    assert(pag.get("type").asText() == "PaginationInfo")
    assert(pag.get("first").asText().contains("offset=0"))
    assert(pag.get("next").asText().contains("offset=2"))
    assert(pag.get("previous").isNull)
    val res = root.get("results")
    assert(res.get("total").asLong() == 3 && res.get("length").asLong() == 2)
    val inf = res.get("infotons")
    assert(inf.size() == 2 &&
      inf.get(0).get("system").get("path").asText().startsWith("/doc/"))
  }

  test("statement formatters over a limited search page match a point read") {
    val store = GraftStore.forDir(spark, Sf)
    val page = Search.search(store, Search.Request(path = "/customer",
      sortBy = Some("-acctbal")), offset = 20, length = 10)
    val paths = page.select("system.path").collect().map(_.getString(0))
    assert(paths.length == 10)
    val read = Search.read(store, paths.toSeq)
    def lines(df: DataFrame): Set[String] =
      df.collect().map(_.getString(0)).toSet
    for ((name, fmt) <- Seq[(String, DataFrame => DataFrame)](
        "ntriples" -> (Formatters.ntriples(_)),
        "trig" -> (Formatters.trig(_)),
        "trix" -> (Formatters.trix(_)))) {
      val want = lines(fmt(read))
      assert(want.nonEmpty, name)
      assert(lines(fmt(page)) == want, s"$name over the sorted page")
      // an unsorted limit trips the same nested-pruning path
      val limited = lines(fmt(Search.run(store,
        Search.Request(path = "/customer")).limit(10)))
      assert(limited.size >= 10, s"$name over .limit(10)")
    }
  }

  test("sort-by system.score is the relevance no-op, path tie-break rules") {
    val store = GraftStore.forDir(spark, Sf)
    val scored = Search.search(store, Search.Request(path = "/nation",
      sortBy = Some("-system.score")), length = 30)
      .select("system.path").collect().map(_.getString(0))
    // no score column exists — the reference treats score sort as the
    // engine's own ranking; filter-only queries fall through to the
    // deterministic path tie-break
    assert(scored.toSeq == scored.sorted.toSeq && scored.length == 25)
  }

  test("analyzed-only fields reject aggregation and sort fail-loud") {
    import graft.ops.Aggregations
    import graft.qp.ApParser
    val store = GraftStore.forDir(spark, Sf)
    val base = Search.run(store, Search.Request(path = "/documents"))
    // the document body is mapped analyzed-only (no keyword slot):
    // bucketing it is an ES mapping error in the reference, not a
    // token aggregation
    val e = intercept[IllegalArgumentException] {
      Aggregations.run(store, base,
        ApParser.parse("type:term,field::text").head)
    }
    assert(e.getMessage.contains("analyzed-only"))
    // a nested leaf fails as loudly as a top-level field
    val e2 = intercept[IllegalArgumentException] {
      Aggregations.run(store, base, ApParser.parse(
        "type:term,field::lang<type:card,field::text>").head)
    }
    assert(e2.getMessage.contains("analyzed-only"))
    // sorting rides the same doc-values constraint
    val e3 = intercept[IllegalArgumentException] {
      Search.search(store,
        Search.Request(path = "/documents", sortBy = Some("text")))
    }
    assert(e3.getMessage.contains("analyzed-only"))
    // keyword-mapped fields on the same docs keep aggregating
    assert(Aggregations.run(store, base,
      ApParser.parse("type:term,field::lang").head).count() > 0)
    // and the analyzed body stays SEARCHABLE — only bucketing is out
    assert(Search.run(store, Search.Request(path = "/documents",
      qp = Some("text:the"))).count() > 0)
  }

  test("nested term sub-aggregation truncates to top-size per parent") {
    import graft.ops.Aggregations
    import graft.qp.ApParser
    val store = GraftStore.forDir(spark, Sf)
    val base = Search.run(store, Search.Request(path = "/orders"))
    val kept = Aggregations.run(store, base, ApParser.parse(
      "type:term,field::orderstatus,size:3" +
        "<type:term,field::orderpriority,name:pri,size:2>").head).collect()
    val full = Aggregations.run(store, base, ApParser.parse(
      "type:term,field::orderstatus,size:3" +
        "<type:term,field::orderpriority,name:pri,size:10>").head).collect()
    val keptBy = kept.groupBy(_.getAs[String]("key"))
    assert(keptBy.values.forall(_.length <= 2))
    // the survivors are exactly each parent's top-2 children by
    // (count desc, key asc) — the ES terms tie-break
    keptBy.foreach { case (k, rows) =>
      val expect = full.filter(_.getAs[String]("key") == k)
        .sortBy(r => (-r.getAs[Long]("pri_count"), r.getAs[String]("pri_key")))
        .take(2).map(_.getAs[String]("pri_key")).toSet
      assert(rows.map(_.getAs[String]("pri_key")).toSet == expect)
    }
  }

  test("stats and hist over a date field aggregate epoch millis") {
    import graft.ops.Aggregations
    val store = storeOf(Seq(
      "<c://d/1> <c://o#when> \"2024-01-01T00:00:00\"^^<http://www.w3.org/2001/XMLSchema#dateTime> .",
      "<c://d/2> <c://o#when> \"2024-01-02T00:00:00\"^^<http://www.w3.org/2001/XMLSchema#dateTime> ."),
      T("2024-01-01 00:00:00"))
    val r = Aggregations.stats(store, store.current,
      Aggregations.StatsAgg("s", "when")).collect().head
    assert(r.getAs[Long]("count") == 2)
    assert(r.getAs[Long]("min") == 1704067200000L)
    assert(r.getAs[Long]("max") == 1704067200000L + 86400000L)
    val h = Aggregations.hist(store, store.current,
      Aggregations.HistAgg("h", "when", interval = 86400000d)).collect()
    assert(h.length == 2 && h.forall(_.getAs[Long]("doc_count") == 1))
  }

  test("hist extended bounds join on the integral bucket index") {
    import graft.ops.Aggregations
    // non-integral interval with non-zero bounds: a spine joined on the
    // recomputed double bucket (lo0 + k*interval vs floor(v/i)*i) would
    // ulp-split buckets into spine-only + data-only rows; the integral
    // index join keeps exactly one row per bucket
    val store = storeOf(Seq(
      "<c://h/1> <c://o#x> \"1.05\"^^<http://www.w3.org/2001/XMLSchema#double> .",
      "<c://h/2> <c://o#x> \"1.25\"^^<http://www.w3.org/2001/XMLSchema#double> ."),
      T("2024-01-01 00:00:00"))
    val h = Aggregations.hist(store, store.current,
      Aggregations.HistAgg("h", "x", interval = 0.1, minDocCount = 0,
        extMin = Some(1.0), extMax = Some(1.5))).collect()
    assert(h.length == 6) // one row per spine bucket, no ulp-splits
    assert(h.map(_.getAs[Long]("doc_count")).sum == 2)
  }

  test("dir-keyed caches are scoped to the building session") {
    val a = GraftStore.forDir(spark, Sf)
    assert(GraftStore.forDir(spark, Sf) eq a) // same session: cache hit
    val s2 = spark.newSession()
    val b = GraftStore.forDir(s2, Sf)
    assert(b ne a) // a restarted/new session must rebuild, not reuse
    assert(b.spark eq s2)
  }

  test("xg wildcard forms expand over the store's ref-field dictionary") {
    // /a/1 -ref-> /b/1 -ref-> /c/1: xg=2 walks both hops, xg=_ one hop.
    val store = storeOf(Seq(
      "<c://a/1> <c://o#ref> <c://b/1> .",
      "<c://b/1> <c://o#ref> <c://c/1> .",
      "<c://c/1> <c://o#tag> \"leaf\" ."),
      T("2024-01-01 00:00:00"))
    val rf = graft.ops.Graph.refFields(store)
    assert(rf == Seq("ref"))
    val base = Search.run(store, Search.Request(path = "/a"))
    val two = graft.ops.Graph.xg(store, base, graft.ops.Graph.parseXg("2", rf))
    assert(paths(two) == Set("/a/1", "/b/1", "/c/1"))
    val one = graft.ops.Graph.xg(store, base, graft.ops.Graph.parseXg("_", rf))
    assert(paths(one) == Set("/a/1", "/b/1"))
    // the wildcard with an empty universe must fail loudly, not return base
    intercept[IllegalArgumentException] {
      graft.ops.Graph.parseXg("_", Nil)
    }
  }

  test("yg/gqp parser: | alternatives, comma field lists, fail-loud") {
    import graft.ops.Graph
    import graft.ops.Graph.Hop
    // `|` alternatives are distinct paths (Parsers.scala:493), NOT a
    // concatenated chain — the round-8 silent misparse
    assert(Graph.parsePaths("<f1|<f2") ==
      Seq(Seq(Seq(Hop(incoming = true, "f1"))),
          Seq(Seq(Hop(incoming = true, "f2")))))
    // per-hop comma field lists (Parsers.scala:485-486), filters kept
    assert(Graph.parsePaths("<a[x::1],b>c") ==
      Seq(Seq(Seq(Hop(incoming = true, "a", Some("x::1")),
                  Hop(incoming = true, "b")),
              Seq(Hop(incoming = false, "c")))))
    // nested brackets in filters survive (MultiFieldFilter nesting)
    assert(Graph.parsePaths("<a[x::1,[y::2,z::3]]") ==
      Seq(Seq(Seq(Hop(incoming = true, "a", Some("x::1,[y::2,z::3]"))))))
    // empty alternatives contribute nothing (reference rep() admits them)
    assert(Graph.parsePaths("<f1|") == Seq(Seq(Seq(Hop(incoming = true, "f1")))))
    // full consumption: trailing garbage / bad starts / unbalanced
    // brackets / empty filters all throw (the reference parseAll
    // rejects them, Parsers.scala:499-508)
    intercept[IllegalArgumentException] { Graph.parsePaths("<refx!!") }
    intercept[IllegalArgumentException] { Graph.parsePaths("refx") }
    intercept[IllegalArgumentException] { Graph.parsePaths("<a[f::1") }
    intercept[IllegalArgumentException] { Graph.parsePaths("<a[]") }
    intercept[IllegalArgumentException] { Graph.parsePaths("<a,") }
    intercept[IllegalArgumentException] { Graph.parsePaths("<") }
    intercept[IllegalArgumentException] { Graph.parsePaths("|") }
    intercept[IllegalArgumentException] { Graph.parsePaths("") }
    // ns-wildcards: legal after '>' (filteredFields) only — expandUp
    // takes exact fields (Parsers.scala:481-489)
    assert(Graph.parsePaths(">*.ont") ==
      Seq(Seq(Seq(Hop(incoming = false, "*.ont")))))
    intercept[IllegalArgumentException] { Graph.parsePaths("<*.ont") }
  }

  test("yg/gqp grammar property: generated-legal parses, mutated fails loud") {
    import graft.ops.Graph
    import org.scalacheck.Gen
    val field = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val filter = Gen.oneOf(
      field.map(f => s"[$f::1]"),
      field.map(f => s"[$f>10,[x::1,y::2]]"), // nested multi-field form
      Gen.const(""))
    val hop = for {
      f <- field; fl <- filter
    } yield s"$f$fl"
    val level = for {
      dir <- Gen.oneOf("<", ">")
      k <- Gen.chooseNum(1, 3)
      hs <- Gen.listOfN(k, hop)
    } yield dir + hs.mkString(",")
    val path = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, level))
      .map(_.mkString)
    val expr = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, path))
      .map(_.mkString("|"))
    // fixed seed: a failing expression must reproduce run-to-run
    val exprs = Gen.listOfN(200, expr)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L))
    exprs.foreach { e =>
      // every generated-legal expression parses, consumes fully, and
      // preserves the alternative count
      val paths = Graph.parsePaths(e)
      assert(paths.nonEmpty && paths.length == e.count(_ == '|') + 1,
        s"parse shape for '$e'")
      // appending garbage after a legal expression must throw — the
      // full-consumption contract over the whole generated space
      withClue(s"mutated '$e!!' must fail loud: ") {
        intercept[IllegalArgumentException] { Graph.parsePaths(e + "!!") }
      }
    }
  }

  test("curriculumShards plans a range-partitioned rank, no single-partition window") {
    import graft.pipeline.Curation
    val store = GraftStore.forDir(spark, Sf)
    val d = store.current.where(col("system.path").startsWith("/customer/"))
      .select(regexp_extract(col("system.path"), "(\\d+)$", 1)
          .cast("long").as("doc_id"),
        element_at(col("fields")("acctbal"), 1).getField("n").as("score"))
    val frame = Curation.curriculumShards(d, "score", shards = 3,
      eager = false)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") ||
      plan.toLowerCase.contains("range"), "expected a range partition")
    assert(!plan.contains("SinglePartition"),
      "global rank must not collapse to one partition")
    // ranks are a permutation of 1..n and shards are balanced ±1
    val rows = frame.collect()
    assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq)
    val byShard = rows.groupBy(_.getInt(3)).view.mapValues(_.length).values
    assert(byShard.max - byShard.min <= 1)
  }

  test("ns-wildcard hops expand over the namespace's claimed keys") {
    import graft.ops.Graph
    val store = GraftStore.forDir(spark, Sf)
    val base = store.current.where(col("system.path") === "/customer/1")
    // every ont-claimed field: only refNation edges leave a customer
    val out = paths(Graph.yg(store, base, ">*.ont"))
    assert(out.exists(_.startsWith("/nation/")))
    assert(out == paths(Graph.yg(store, base, ">refNation")))
    // a typo'd namespace fails loud at expansion, never silently-empty
    intercept[IllegalArgumentException] {
      Graph.yg(store, base, ">*.nosuchns")
    }
    // the full-URI wildcard spelling `$nsUri#*$` (uriPattern,
    // Parsers.scala:362-364) expands identically to `*.prefix`
    val uriWild = paths(Graph.yg(store, base,
      ">$" + graft.qp.Namespaces.DefaultNs + "*$"))
    assert(uriWild == out)
    // unknown namespace URI fails loud too
    intercept[IllegalArgumentException] {
      Graph.yg(store, base, ">$cmwell://nosuch#*$")
    }
    // `$predicateUri$` resolves to its single canonical key
    // (fullPredicateURI, Parsers.scala:110)
    val uriField = paths(Graph.yg(store, base,
      ">$" + graft.qp.Namespaces.DefaultNs + "refNation$"))
    assert(uriField == paths(Graph.yg(store, base, ">refNation")))
    // ns-wildcard (either spelling) still illegal after '<'
    intercept[IllegalArgumentException] {
      Graph.parsePaths("<$" + graft.qp.Namespaces.DefaultNs + "*$")
    }
    // unterminated $uri$ token fails loud, never a silent plain field
    intercept[IllegalArgumentException] {
      Graph.parsePaths(">$cmwell://ont#refNation")
    }
  }

  test("xg parser: > levels, comma lists, jokers, fail-loud") {
    import graft.ops.Graph
    import graft.ops.Graph.Hop
    val rf = Seq("r1", "r2")
    // levels split on '>' (Parsers.scala:437) — dots are FIELD chars
    // (namespace-qualified keys), never level separators
    assert(Graph.parseXg("a.b>c", rf) ==
      Seq(Seq(Hop(incoming = false, "a.b")), Seq(Hop(incoming = false, "c"))))
    // comma field list in one level (doctest "x>yyy>abc,xyz")
    assert(Graph.parseXg("x>yyy>abc,xyz", rf).map(_.map(_.field)) ==
      Seq(Seq("x"), Seq("yyy"), Seq("abc", "xyz")))
    // digit joker with filter replicates a filtered wildcard level
    assert(Graph.parseXg("2[q::1]", rf) ==
      Seq(rf.map(Hop(incoming = false, _, Some("q::1"))),
          rf.map(Hop(incoming = false, _, Some("q::1")))))
    // joker then explicit levels (expanders = jokers ">" levels)
    assert(Graph.parseXg("1>a", rf) ==
      Seq(rf.map(Hop(incoming = false, _)), Seq(Hop(incoming = false, "a"))))
    // `_` with filter (level = "_" ~> filter.?)
    assert(Graph.parseXg("_[q::1]", rf) ==
      Seq(rf.map(Hop(incoming = false, _, Some("q::1")))))
    // empty input = one wildcard level (Parsers.scala:453)
    assert(Graph.parseXg("", rf) == Seq(rf.map(Hop(incoming = false, _))))
    intercept[IllegalArgumentException] { Graph.parseXg("a>>b", rf) }
    intercept[IllegalArgumentException] { Graph.parseXg("a[x::1]!!", rf) }
    intercept[IllegalArgumentException] { Graph.parseXg("a[", rf) }
    // `_` is a whole-level wildcard only — inside a comma list it
    // would be a silent match-nothing field
    intercept[IllegalArgumentException] { Graph.parseXg("_,a", rf) }
  }

  test("SPARQL UNION leaves branch-only variables unbound") {
    val store = storeOf(Seq(
      "<c://u/1> <c://o#a> \"x\" .",
      "<c://u/2> <c://o#b> \"y\" ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?s ?a ?b WHERE {
        |  { ?s <c://o#a> ?a } UNION { ?s <c://o#b> ?b }
        |} ORDER BY ?s""".stripMargin).collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "/u/1" && r(0).getString(1) == "x" &&
      r(0).isNullAt(2))
    assert(r(1).getString(0) == "/u/2" && r(1).isNullAt(1) &&
      r(1).getString(2) == "y")
  }

  test("SPARQL aggregates: COUNT DISTINCT and grouped SUM over numerics") {
    val store = storeOf(Seq(
      "<c://v/1> <c://o#g> \"a\" .",
      "<c://v/1> <c://o#n> \"2\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://v/2> <c://o#g> \"a\" .",
      "<c://v/2> <c://o#n> \"3\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://v/3> <c://o#g> \"b\" .",
      "<c://v/3> <c://o#n> \"5\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?g (COUNT(DISTINCT ?s) AS ?c) (SUM(?n) AS ?total) WHERE {
        |  ?s <c://o#g> ?g . ?s <c://o#n> ?n .
        |} GROUP BY ?g ORDER BY ?g""".stripMargin).collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "a" && r(0).getLong(1) == 2 &&
      r(0).getDouble(2) == 5.0)
    assert(r(1).getString(0) == "b" && r(1).getLong(1) == 1 &&
      r(1).getDouble(2) == 5.0)
  }

  test("SPARQL string escapes and negation in FILTER") {
    val store = storeOf(Seq(
      "<c://w/1> <c://o#t> \"say \\\"hi\\\"\" .",
      "<c://w/2> <c://o#t> \"plain\" ."),
      T("2024-01-01 00:00:00"))
    val hit = Sparql.select(store,
      "SELECT ?s WHERE { ?s <c://o#t> \"say \\\"hi\\\"\" . }")
    assert(hit.collect().map(_.getString(0)).toSeq == Seq("/w/1"))
    val neg = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#t> ?t .
        |FILTER (!(contains(?t, "hi"))) }""".stripMargin)
    assert(neg.collect().map(_.getString(0)).toSeq == Seq("/w/2"))
  }

  test("quad filter resolves aliases and full IRIs to the stored tag") {
    val store = GraftStore.forDir(spark, Sf)
    def run(v: String) = Search.run(store,
      Search.Request(path = "/documents",
        qp = Some(s"system.quad::$v"))).count()
    val byPath = run("/graph/src7")
    assert(byPath > 0)
    assert(run("src7") == byPath)                 // registered alias
    assert(run("cmwell://graph/src7") == byPath)  // full graph IRI
    val e = intercept[IllegalArgumentException] { run("nosuchalias") }
    assert(e.getMessage.contains("unknown quad alias"))
    graft.qp.QuadAliases.register("mysrc", "cmwell://graph/src7")
    assert(run("mysrc") == byPath)
  }

  test("SPARQL GRAPH clause: variable + bound + dataset clauses") {
    val store = storeOf(Seq(
      "<c://f/1> <c://o#tag> \"a\" <c://g/1> .",
      "<c://f/2> <c://o#tag> \"b\" <c://g/2> .",
      "<c://f/3> <c://o#tag> \"c\" ."),
      T("2024-01-01 00:00:00"))
    // GRAPH ?g matches only tagged rows, binding ?g to the graph path
    val byVar = Sparql.select(store,
      "SELECT ?d ?g WHERE { GRAPH ?g { ?d <c://o#tag> ?v } } ORDER BY ?d")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(byVar == Seq("/f/1" -> "/g/1", "/f/2" -> "/g/2"))
    // GRAPH <g> scopes the whole group to one graph
    assert(Sparql.select(store,
      "SELECT ?d WHERE { GRAPH <c://g/2> { ?d <c://o#tag> ?v } }")
      .collect().map(_.getString(0)).toSeq == Seq("/f/2"))
    // FROM NAMED restricts the graphs GRAPH ?g can match
    assert(Sparql.select(store,
      """SELECT ?d FROM NAMED <c://g/1>
        |WHERE { GRAPH ?g { ?d <c://o#tag> ?v } }""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/f/1"))
    // FROM restricts the default graph to the listed graphs' merge
    assert(Sparql.select(store,
      "SELECT ?d FROM <c://g/2> WHERE { ?d <c://o#tag> ?v }")
      .collect().map(_.getString(0)).toSeq == Seq("/f/2"))
    // no dataset clause: default graph is the union (all 3 visible)
    assert(Sparql.select(store,
      "SELECT ?d WHERE { ?d <c://o#tag> ?v }").count() == 3)
    // closures inside GRAPH ?g run per-graph (tag rides the frontier);
    // tag is not a ref field here, so the closure is empty — but it
    // compiles and binds (?d, ?g) without error
    assert(Sparql.select(store,
      "SELECT ?d ?g WHERE { GRAPH ?g { ?d <c://o#ref>+ ?v } }")
      .count() == 0)
    // a subquery-only GRAPH ?g group cannot bind ?g (the subquery's
    // projection drops the tag) — fail loud, not a missing column
    val e2 = intercept[IllegalArgumentException](Sparql.select(store,
      """SELECT ?g WHERE { GRAPH ?g {
        |{ SELECT ?d WHERE { ?d <c://o#tag> ?v } } } }""".stripMargin))
    assert(e2.getMessage.contains("binds no"))
  }

  test("SPARQL custom FILTER functions dispatch to registered UDFs") {
    Sparql.registerFunction(spark, "lenis") { (s, n) =>
      s != null && s.length == n.toInt
    }
    val r = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER lenis(?t, "4") } ORDER BY ?s""".stripMargin)
    // "blue" is the only 4-char tag
    assert(r.collect().map(_.getString(0)).toSeq == Seq("/doc/2"))
  }

  test("SPARQL p+ computes the transitive closure") {
    val store = storeOf(Seq(
      "<c://n/a> <c://o#next> <c://n/b> .",
      "<c://n/b> <c://o#next> <c://n/c> .",
      "<c://n/c> <c://o#next> <c://n/d> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?o WHERE { <c://n/a> <c://o#next>+ ?o } ORDER BY ?o""")
    assert(r.collect().map(_.getString(0)).toSeq ==
      Seq("/n/b", "/n/c", "/n/d"))
    // closure joins with ordinary patterns through shared variables
    val mid = Sparql.select(store,
      """SELECT ?s ?o WHERE { ?s <c://o#next>+ ?o .
        |?o <c://o#next> <c://n/d> . }""".stripMargin).collect()
    assert(mid.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("/n/a", "/n/c"), ("/n/b", "/n/c")))
  }

  test("SPARQL HAVING filters aggregated groups") {
    val store = storeOf(Seq(
      "<c://h/1> <c://o#g> \"a\" .",
      "<c://h/2> <c://o#g> \"a\" .",
      "<c://h/3> <c://o#g> \"b\" ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?g (COUNT(?s) AS ?c) WHERE { ?s <c://o#g> ?g . }
        |GROUP BY ?g HAVING (?c >= 2) ORDER BY ?g""".stripMargin).collect()
    assert(r.length == 1 && r(0).getString(0) == "a" && r(0).getLong(1) == 2)
  }

  test("SPARQL inverse path segments swap the hop's ends") {
    val store = storeOf(Seq(
      "<c://o/1> <c://o#refC> <c://c/1> .",
      "<c://o/2> <c://o#refC> <c://c/1> .",
      "<c://c/1> <c://o#name> \"alice\" ."),
      T("2024-01-01 00:00:00"))
    // customers ← orders: ?c ^refC ?o ≡ ?o refC ?c
    val r = Sparql.select(store,
      """SELECT ?o WHERE { ?c <c://o#name> "alice" .
        |?c ^<c://o#refC> ?o . } ORDER BY ?o""".stripMargin)
    assert(r.collect().map(_.getString(0)).toSeq == Seq("/o/1", "/o/2"))
    // inverse composes inside a sequence: name of the customer of /o/1
    val n = Sparql.select(store,
      "SELECT ?n WHERE { <c://o/1> <c://o#refC>/<c://o#name> ?n . }")
    assert(n.collect().map(_.getString(0)).toSeq == Seq("alice"))
  }

  test("SPARQL DISTINCT aggregates and string MIN/MAX compute correctly") {
    val store = storeOf(Seq(
      "<c://d/1> <c://o#n> \"2\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://d/2> <c://o#n> \"2\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://d/3> <c://o#n> \"3\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://d/1> <c://o#name> \"beta\" .",
      "<c://d/2> <c://o#name> \"alpha\" ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT (SUM(DISTINCT ?n) AS ?sd) (AVG(DISTINCT ?n) AS ?ad)
        |WHERE { ?s <c://o#n> ?n . }""".stripMargin).collect().head
    assert(r.getDouble(0) == 5.0) // 2 + 3, not 2+2+3
    assert(r.getDouble(1) == 2.5)
    // MAX over a known-string field aggregates the lexical value (the
    // all-null numeric shadow used to win and return null)
    val m = Sparql.select(store,
      "SELECT (MAX(?name) AS ?m) WHERE { ?s <c://o#name> ?name . }")
      .collect().head
    assert(m.getString(0) == "beta")
  }

  test("SPARQL UNION joins use unbound-compatibility, not null equality") {
    val store = storeOf(Seq(
      "<c://u/1> <c://o#a> \"v1\" .",
      "<c://u/1> <c://o#b> \"v1\" .",
      "<c://u/2> <c://o#a> \"v2\" .",
      "<c://u/2> <c://o#c> \"w\" ."),
      T("2024-01-01 00:00:00"))
    // branch 1 binds ?v (must agree with the outer ?v); branch 2 leaves
    // ?v unbound (compatible with anything) — u/2 must survive
    val r = Sparql.select(store,
      """SELECT ?x ?v WHERE { ?x <c://o#a> ?v .
        |{ { ?x <c://o#b> ?v } UNION { ?x <c://o#c> ?w } }
        |} ORDER BY ?x""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/u/1", "/u/2"))
    assert(r.map(_.getString(1)).toSeq == Seq("v1", "v2"))
  }

  test("numeric shadow survives from whichever side binds across UNION") {
    val store = storeOf(Seq(
      "<c://n/1> <c://o#a> \"p\" .",
      "<c://n/1> <c://o#n> \"5\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://n/2> <c://o#n> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // group 1 leaves ?n unbound for n/1 (it enters via the #a branch);
    // the plain pattern then binds ?n=5 from the RIGHT side of the
    // compat join. The numeric FILTER must see 5, not the left side's
    // null shadow (which would silently drop n/1).
    val r = Sparql.select(store,
      """SELECT DISTINCT ?x ?n WHERE {
        |  { ?x <c://o#a> ?t } UNION { ?x <c://o#n> ?n }
        |  ?x <c://o#n> ?n .
        |  FILTER (?n > 4)
        |} ORDER BY ?x""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/n/1", "/n/2"))
    assert(r.map(_.getString(1)).toSeq == Seq("5", "7"))
  }

  test("HAVING without aggregates fails loud instead of being ignored") {
    intercept[IllegalArgumentException](Sparql.select(tagStore,
      "SELECT ?s WHERE { ?s <c://o#tag> ?t } HAVING (?t > 1)"))
  }

  test("SPARQL p+ fails loud instead of silently truncating deep chains") {
    val edges = (0 until 14).map(i =>
      s"<c://ch/$i> <c://o#next> <c://ch/${i + 1}> .")
    val store = storeOf(edges, T("2024-01-01 00:00:00"))
    intercept[IllegalArgumentException](Sparql.select(store,
      "SELECT ?o WHERE { <c://ch/0> <c://o#next>+ ?o }").collect())
  }

  test("SPARQL VALUES restricts and joins like inline data") {
    val r = Sparql.select(tagStore,
      """SELECT ?s ?t WHERE { ?s <c://o#tag> ?t .
        |VALUES ?t { "red" "green" } } ORDER BY ?s""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/doc/1", "/doc/3"))
    // multi-var rows with UNDEF: UNDEF is compatible with any binding
    val u = Sparql.select(tagStore,
      """SELECT ?s ?t WHERE { ?s <c://o#tag> ?t .
        |VALUES (?s ?t) { (<c://doc/1> "red") (<c://doc/2> UNDEF) }
        |} ORDER BY ?s""".stripMargin).collect()
    assert(u.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("/doc/1", "red"), ("/doc/2", "blue")))
  }

  test("SPARQL BIND computes strings and numbers usable downstream") {
    val r = Sparql.select(tagStore,
      """SELECT ?s ?tag WHERE { ?s <c://o#tag> ?t .
        |BIND(CONCAT(?t, "!") AS ?tag)
        |FILTER strends(?tag, "d!") } ORDER BY ?s""".stripMargin).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("red!"))
    // numeric BIND: arithmetic over a bound numeric + FILTER on it
    val n = Sparql.select(tagStore,
      """SELECT ?s ?m WHERE { ?s <c://o#num> ?v .
        |BIND(?v * 2 + 1 AS ?m) FILTER (?m > 10) }""".stripMargin).collect()
    assert(n.length == 1 && n(0).getString(1) == "11")
    // STRLEN yields a filterable number
    val l = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |BIND(STRLEN(?t) AS ?len) FILTER (?len = 5) } ORDER BY ?s"""
        .stripMargin).collect()
    assert(l.map(_.getString(0)).toSeq == Seq("/doc/3")) // "green"
  }

  test("SPARQL MINUS removes compatible solutions, keeps disjoint ones") {
    val r = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |MINUS { ?s <c://o#num> ?n } } ORDER BY ?s""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/doc/1", "/doc/2"))
    // no shared variable → MINUS removes nothing (SPARQL spec)
    val d = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |MINUS { ?x <c://o#num> ?n } } ORDER BY ?s""".stripMargin).collect()
    assert(d.length == 3)
    // a BIND var that goes UNBOUND via a SPARQL type error (YEAR on a
    // non-dateTime lexical → null on BOTH sides) is null-COMPATIBLE,
    // so removal still keys on the sure-bound ?s: the hash-anti-join
    // fast path must classify ?y loose even though its ref ?t is
    // sure-bound (Catalyst nullability, not just ref propagation)
    val ty = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t . BIND(YEAR(?t) AS ?y)
        |MINUS { ?s <c://o#num> ?n . ?s <c://o#tag> ?t2 .
        |        BIND(YEAR(?t2) AS ?y) } } ORDER BY ?s""".stripMargin)
      .collect()
    // /doc/3 carries num (the minus side matches it; ?y null on both
    // sides is compatible, ?s overlaps) → removed; 1 and 2 stay
    assert(ty.map(_.getString(0)).toSeq == Seq("/doc/1", "/doc/2"),
      s"nullable BIND var must not defeat MINUS: ${ty.toSeq}")
  }

  test("SPARQL FILTER EXISTS and NOT EXISTS semi/anti-join the group") {
    val r = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER EXISTS { ?s <c://o#num> ?n } }""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/doc/3"))
    val n = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER NOT EXISTS { ?s <c://o#num> ?n } } ORDER BY ?s"""
        .stripMargin).collect()
    assert(n.map(_.getString(0)).toSeq == Seq("/doc/1", "/doc/2"))
  }

  test("SPARQL alternative paths scan the union of edge sets") {
    val store = storeOf(Seq(
      "<c://a/1> <c://o#p> <c://t/1> .",
      "<c://a/2> <c://o#q> <c://t/2> .",
      "<c://a/3> <c://o#r> <c://t/3> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?s ?o WHERE { ?s (<c://o#p>|<c://o#q>) ?o } ORDER BY ?s""")
      .collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/a/1", "/a/2"))
    // bare (unparenthesized) alternation parses the same
    val b = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#q>|<c://o#r> ?o } ORDER BY ?s""")
      .collect()
    assert(b.map(_.getString(0)).toSeq == Seq("/a/2", "/a/3"))
    // alternation composes inside a sequence path
    val store2 = storeOf(Seq(
      "<c://b/1> <c://o#p> <c://m/1> .",
      "<c://m/1> <c://o#name> \"hit\" ."),
      T("2024-01-01 00:00:00"))
    val s = Sparql.select(store2,
      """SELECT ?n WHERE { <c://b/1> (<c://o#p>|<c://o#q>)/<c://o#name> ?n }""")
      .collect()
    assert(s.map(_.getString(0)).toSeq == Seq("hit"))
  }

  test("SPARQL predicate-object lists and blank-node property lists") {
    val store = storeOf(Seq(
      "<c://p/1> <c://o#tag> \"red\" .",
      "<c://p/1> <c://o#num> \"4\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://p/1> <c://o#ref> <c://q/1> .",
      "<c://q/1> <c://o#name> \"target\" .",
      "<c://p/2> <c://o#tag> \"red\" .",
      "<c://p/2> <c://o#tag> \"blue\" ."),
      T("2024-01-01 00:00:00"))
    // `,` object list: both objects must hold for the same subject
    val both = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#tag> "red", "blue" }""").collect()
    assert(both.map(_.getString(0)).toSeq == Seq("/p/2"))
    // `;` predicate-object list shares the subject (trailing ; legal)
    val semi = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#tag> "red" ; <c://o#num> ?n ; . }""")
      .collect()
    assert(semi.map(_.getString(0)).toSeq == Seq("/p/1"))
    // blank-node property list in object position joins through the ref
    val obj = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#ref> [ <c://o#name> "target" ] }""")
      .collect()
    assert(obj.map(_.getString(0)).toSeq == Seq("/p/1"))
    // property list as the whole subject: scoped bnode, not projected
    val subj = Sparql.select(store,
      """SELECT ?n WHERE { [ <c://o#tag> "red" ; <c://o#num> ?n ] . }""")
      .collect()
    assert(subj.map(_.getString(0)).toSeq == Seq("4"))
  }

  test("SPARQL +/* on alternatives, inside sequences, and inverted") {
    val store = storeOf(Seq(
      "<c://h/1> <c://o#p> <c://h/2> .",
      "<c://h/2> <c://o#q> <c://h/3> .",
      "<c://h/3> <c://o#q> <c://h/4> ."),
      T("2024-01-01 00:00:00"))
    // closure over the union edge set: (p|q)+
    val alt = Sparql.select(store,
      """SELECT ?o WHERE { <c://h/1> (<c://o#p>|<c://o#q>)+ ?o }
        |ORDER BY ?o""".stripMargin).collect()
    assert(alt.map(_.getString(0)).toSeq == Seq("/h/2", "/h/3", "/h/4"))
    // modifier on one element of a sequence path: p/q+
    val seq = Sparql.select(store,
      """SELECT ?o WHERE { <c://h/1> <c://o#p>/<c://o#q>+ ?o }
        |ORDER BY ?o""".stripMargin).collect()
    assert(seq.map(_.getString(0)).toSeq == Seq("/h/3", "/h/4"))
    // inverse closure ^q+: everything that reaches h/4 via q edges
    val inv = Sparql.select(store,
      """SELECT ?o WHERE { <c://h/4> ^<c://o#q>+ ?o } ORDER BY ?o""")
      .collect()
    assert(inv.map(_.getString(0)).toSeq == Seq("/h/2", "/h/3"))
  }

  test("SPARQL SELECT * projects every visible variable") {
    val r = Sparql.select(tagStore,
      "SELECT * WHERE { ?s <c://o#tag> ?t } ORDER BY ?s")
    assert(r.columns.toSeq == Seq("s", "t"))
    assert(r.count() == 3)
    // internal vars (bnode property lists, path intermediates) and
    // shadow columns stay hidden
    val hid = Sparql.select(tagStore,
      """SELECT * WHERE { [ <c://o#tag> ?t ; <c://o#num> ?n ] . }""")
    assert(hid.columns.toSeq.sorted == Seq("n", "t"))
    // star + DISTINCT composes
    val d = Sparql.select(tagStore,
      "SELECT DISTINCT * WHERE { ?s <c://o#tag> ?t }")
    assert(d.count() == 3)
  }

  test("SPARQL SAMPLE and GROUP_CONCAT aggregates") {
    val store = storeOf(Seq(
      "<c://t/1> <c://o#g> \"a\" .",
      "<c://t/1> <c://o#tag> \"x\" .",
      "<c://t/2> <c://o#g> \"a\" .",
      "<c://t/2> <c://o#tag> \"y\" .",
      "<c://t/3> <c://o#g> \"b\" .",
      "<c://t/3> <c://o#tag> \"z\" ."),
      T("2024-01-01 00:00:00"))
    val gc = Sparql.select(store,
      """SELECT ?g (GROUP_CONCAT(?t; SEPARATOR=",") AS ?tags) WHERE {
        |  ?s <c://o#g> ?g . ?s <c://o#tag> ?t
        |} GROUP BY ?g ORDER BY ?g""".stripMargin).collect()
    assert(gc.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "x,y"), ("b", "z")))
    val sm = Sparql.select(store,
      """SELECT ?g (SAMPLE(?t) AS ?any) WHERE {
        |  ?s <c://o#g> ?g . ?s <c://o#tag> ?t
        |} GROUP BY ?g ORDER BY ?g""".stripMargin).collect()
    assert(sm.length == 2 && Set("x", "y")(sm(0).getString(1)) &&
      sm(1).getString(1) == "z")
    // string aggregates survive the subquery canonical projection
    // (numLex goes through decimal and would null them)
    val sub = Sparql.select(store,
      """SELECT ?g ?tags WHERE {
        |  { SELECT ?g (GROUP_CONCAT(?t; SEPARATOR=",") AS ?tags) WHERE {
        |      ?s <c://o#g> ?g . ?s <c://o#tag> ?t } GROUP BY ?g }
        |} ORDER BY ?g""".stripMargin).collect()
    assert(sub.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "x,y"), ("b", "z")))
  }

  test("SPARQL BIND string/conditional builtins") {
    val r = Sparql.select(tagStore,
      """SELECT ?s ?x WHERE { ?s <c://o#tag> ?t .
        |BIND(SUBSTR(?t, 1, 2) AS ?x) } ORDER BY ?s""".stripMargin).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("re", "bl", "gr"))
    val rep = Sparql.select(tagStore,
      """SELECT ?x WHERE { ?s <c://o#tag> ?t .
        |BIND(REPLACE(?t, "[aeiou]", "_") AS ?x)
        |FILTER (?t = "red") }""".stripMargin).collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("r_d"))
    val ba = Sparql.select(tagStore,
      """SELECT ?b ?a WHERE { ?s <c://o#tag> ?t . FILTER (?t = "green")
        |BIND(STRBEFORE(?t, "ee") AS ?b)
        |BIND(STRAFTER(?t, "ee") AS ?a) }""".stripMargin).collect()
    assert(ba.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("gr", "n")))
    // STRBEFORE/STRAFTER of an absent needle is ""
    val absent = Sparql.select(tagStore,
      """SELECT ?b WHERE { ?s <c://o#tag> ?t . FILTER (?t = "red")
        |BIND(STRBEFORE(?t, "zz") AS ?b) }""".stripMargin).collect()
    assert(absent.map(_.getString(0)).toSeq == Seq(""))
    // IF with a numeric comparison + COALESCE over an OPTIONAL var
    val iff = Sparql.select(tagStore,
      """SELECT ?s ?k WHERE { ?s <c://o#tag> ?t .
        |OPTIONAL { ?s <c://o#num> ?n }
        |BIND(IF(COALESCE(?n, 0) > 4, "big", "small") AS ?k)
        |} ORDER BY ?s""".stripMargin).collect()
    assert(iff.map(_.getString(1)).toSeq == Seq("small", "small", "big"))
    // ROUND/ABS numeric builtins flow through the shadow
    val num = Sparql.select(tagStore,
      """SELECT ?v WHERE { ?s <c://o#num> ?n .
        |BIND(ABS(0 - ?n) + ROUND(0.4) AS ?v) }""".stripMargin).collect()
    assert(num.map(_.getString(0)).toSeq == Seq("5"))
  }

  test("SPARQL p* includes the zero-length path") {
    val store = storeOf(Seq(
      "<c://n/a> <c://o#next> <c://n/b> .",
      "<c://n/b> <c://o#next> <c://n/c> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      "SELECT ?o WHERE { <c://n/a> <c://o#next>* ?o } ORDER BY ?o")
      .collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/n/a", "/n/b", "/n/c"))
    // p? — zero or ONE hop: identity + direct successor, never /n/c
    val opt = Sparql.select(store,
      "SELECT ?o WHERE { <c://n/a> <c://o#next>? ?o } ORDER BY ?o")
      .collect()
    assert(opt.map(_.getString(0)).toSeq == Seq("/n/a", "/n/b"))
  }

  test("SPARQL IN and NOT IN desugar to equality disjunctions") {
    val in = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER (?t IN ("red", "green")) } ORDER BY ?s""".stripMargin)
      .collect()
    assert(in.map(_.getString(0)).toSeq == Seq("/doc/1", "/doc/3"))
    val notIn = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER (?t NOT IN ("red", "green")) }""".stripMargin).collect()
    assert(notIn.map(_.getString(0)).toSeq == Seq("/doc/2"))
    // IRIs in the list compare in path form against bound refs
    val store = storeOf(Seq(
      "<c://r/1> <c://o#ref> <c://t/1> .",
      "<c://r/2> <c://o#ref> <c://t/2> ."), T("2024-01-01 00:00:00"))
    val iri = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#ref> ?x .
        |FILTER (?x IN (<c://t/1>)) }""".stripMargin).collect()
    assert(iri.map(_.getString(0)).toSeq == Seq("/r/1"))
  }

  test("SPARQL subquery joins its projection into the outer group") {
    val store = storeOf(Seq(
      "<c://x/1> <c://o#g> \"a\" .",
      "<c://x/1> <c://o#n> \"1\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://x/2> <c://o#g> \"a\" .",
      "<c://x/2> <c://o#n> \"2\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://x/3> <c://o#g> \"b\" .",
      "<c://x/3> <c://o#n> \"9\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // members of the most numerous group (count 2 ⇒ "a"); the ORDER BY
    // under LIMIT ranks numerically via the shadow, not lexically
    val r = Sparql.select(store,
      """SELECT ?s WHERE {
        |  { SELECT ?g (COUNT(?m) AS ?c) WHERE { ?m <c://o#g> ?g }
        |    GROUP BY ?g ORDER BY DESC(?c) ?g LIMIT 1 }
        |  ?s <c://o#g> ?g .
        |} ORDER BY ?s""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/x/1", "/x/2"))
    // a plain (non-aggregating) subquery keeps numeric shadows: the
    // outer FILTER on ?n still works
    val f = Sparql.select(store,
      """SELECT ?s WHERE {
        |  { SELECT ?s ?n WHERE { ?s <c://o#n> ?n } }
        |  FILTER (?n > 1)
        |} ORDER BY ?s""".stripMargin).collect()
    assert(f.map(_.getString(0)).toSeq == Seq("/x/2", "/x/3"))
    // aggregate alias from the subquery is filterable outside it
    val g = Sparql.select(store,
      """SELECT ?g ?c WHERE {
        |  { SELECT ?g (COUNT(?m) AS ?c) WHERE { ?m <c://o#g> ?g }
        |    GROUP BY ?g }
        |  FILTER (?c >= 2)
        |}""".stripMargin).collect()
    assert(g.length == 1 && g(0).getString(0) == "a" &&
      g(0).getString(1) == "2")
  }

  test("SPARQL OFFSET, blank-node labels and var-var FILTER comparisons") {
    val store = storeOf(Seq(
      "<c://y/1> <c://o#a> \"1\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://y/1> <c://o#b> \"5\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://y/2> <c://o#a> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://y/2> <c://o#b> \"6\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://y/3> <c://o#a> \"3\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // OFFSET skips after ordering; numeric 7 > 3 ranks via shadow
    val o = Sparql.select(store,
      "SELECT ?s WHERE { ?s <c://o#a> ?v } ORDER BY ?s LIMIT 2 OFFSET 1")
      .collect()
    assert(o.map(_.getString(0)).toSeq == Seq("/y/2", "/y/3"))
    // var-var comparison uses numeric shadows (7 > 6 but "7" > "6"
    // lexically too — 10 vs 9 would differ; shadows make it numeric)
    val v = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x . ?s <c://o#b> ?y .
        |FILTER (?x > ?y) }""".stripMargin).collect()
    assert(v.map(_.getString(0)).toSeq == Seq("/y/2"))
    // a blank-node label behaves as a non-projectable join variable
    val b = Sparql.select(store,
      """SELECT ?v WHERE { _:m <c://o#a> ?v . _:m <c://o#b> ?w }
        |ORDER BY ?v""".stripMargin).collect()
    assert(b.map(_.getString(0)).toSeq == Seq("1", "7"))
  }

  test("BIND renders large numerics in plain notation with precedence") {
    val store = storeOf(Seq(
      "<c://z/1> <c://o#n> \"456\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // a double→string cast would render 4.56E9; the canonical lexical
    // must be plain so joins/equality against stored lexicals work
    val big = Sparql.select(store,
      """SELECT ?x WHERE { ?s <c://o#n> ?v .
        |BIND(?v * 10000000 AS ?x) }""".stripMargin).collect()
    assert(big(0).getString(0) == "4560000000")
    // standard precedence: 1 + 456*2 = 913, not (1+456)*2
    val prec = Sparql.select(store,
      """SELECT ?m WHERE { ?s <c://o#n> ?v .
        |BIND(1 + ?v * 2 AS ?m) }""".stripMargin).collect()
    assert(prec(0).getString(0) == "913")
    // fractions keep their digits
    val half = Sparql.select(store,
      """SELECT ?h WHERE { ?s <c://o#n> ?v . BIND(?v / 8 AS ?h) }""")
      .collect()
    assert(half(0).getString(0) == "57")
  }

  test("var-var FILTER coerces when only one side carries a shadow") {
    val store = storeOf(Seq(
      "<c://w/9> <c://o#n> \"9\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // VALUES binds ?t without a shadow; numeric 9 > 10 must be FALSE
    // (lexical "9" > "10" would be true)
    val r = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#n> ?v .
        |VALUES ?t { "10" } FILTER (?v > ?t) }""".stripMargin).collect()
    assert(r.isEmpty)
  }

  test("nested stats over a date field aggregates epoch millis") {
    val store = storeOf(Seq(
      "<c://dt/1> <c://o#g> \"a\" .",
      "<c://dt/1> <c://o#when> \"2024-01-01T00:00:00.000Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime> .",
      "<c://dt/2> <c://o#g> \"a\" .",
      "<c://dt/2> <c://o#when> \"2024-01-02T00:00:00.000Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime> ."),
      T("2024-01-01 00:00:00"))
    import graft.ops.Aggregations
    val r = Aggregations.run(store, store.current,
      graft.qp.ApParser.parse(
        "type:term,field::g,size:3<type:stats,field::when>").head).collect()
    assert(r.length == 1)
    val row = r(0)
    val d1 = 1704067200000L // 2024-01-01T00:00:00Z
    val d2 = d1 + 86400000L
    assert(row.getAs[Long]("when_min") == d1 &&
      row.getAs[Long]("when_max") == d2)
    assert(row.getAs[Double]("when_sum") == (d1 + d2).toDouble)
  }

  test("SPARQL bound() and langMatches() builtins") {
    val store = storeOf(Seq(
      "<c://lg/1> <c://o#t> \"bonjour\"@fr .",
      "<c://lg/2> <c://o#t> \"hello\"@en-US .",
      "<c://lg/3> <c://o#t> \"plain\" .",
      "<c://lg/1> <c://o#extra> \"x\" ."),
      T("2024-01-01 00:00:00"))
    // langMatches: exact tag and BCP-47 prefix ("en" matches "en-US")
    val fr = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#t> ?t . FILTER langmatches(?t, "fr") }""")
      .collect()
    assert(fr.map(_.getString(0)).toSeq == Seq("/lg/1"))
    val en = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#t> ?t . FILTER langmatches(?t, "en") }""")
      .collect()
    assert(en.map(_.getString(0)).toSeq == Seq("/lg/2"))
    // "*" = any tagged literal; the untagged one is excluded
    val any = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#t> ?t . FILTER langmatches(?t, "*") }
        |ORDER BY ?s""".stripMargin).collect()
    assert(any.map(_.getString(0)).toSeq == Seq("/lg/1", "/lg/2"))
    // OPTIONAL + !bound — the classic negation idiom
    val nb = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#t> ?t .
        |OPTIONAL { ?s <c://o#extra> ?e }
        |FILTER (!(bound(?e))) } ORDER BY ?s""".stripMargin).collect()
    assert(nb.map(_.getString(0)).toSeq == Seq("/lg/2", "/lg/3"))
  }

  test("SPARQL DESCRIBE returns all triples of IRI and variable subjects") {
    val byIri = Sparql.describe(tagStore, "DESCRIBE <c://doc/3>").collect()
    assert(byIri.map(r => (r.getString(1), r.getString(2))).toSet ==
      Set(("tag", "green"), ("num", "5")))
    val byVar = Sparql.describe(tagStore,
      """DESCRIBE ?s WHERE { ?s <c://o#num> ?n }""").collect()
    assert(byVar.map(_.getString(0)).toSet == Set("/doc/3") &&
      byVar.length == 2)
  }

  test("SPARQL ASK answers existence without materializing solutions") {
    val hit = Sparql.ask(tagStore,
      """ASK { ?s <c://o#tag> "red" }""").collect()
    assert(hit.length == 1 && hit(0).getBoolean(0))
    val miss = Sparql.ask(tagStore,
      """ASK WHERE { ?s <c://o#tag> "purple" }""").collect()
    assert(miss.length == 1 && !miss(0).getBoolean(0))
  }

  test("SPARQL FILTER gives && precedence over ||") {
    val store = storeOf(Seq(
      "<c://v/1> <c://o#a> \"1\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://v/1> <c://o#b> \"2\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    // a=1 || (a=2 && b>5): true for v1; left-to-right folding would
    // compute (a=1 || a=2) && b>5 = false
    val r = Sparql.select(store,
      """SELECT ?x WHERE { ?x <c://o#a> ?a . ?x <c://o#b> ?b .
        |FILTER (?a = 1 || ?a = 2 && ?b > 5) }""".stripMargin)
    assert(r.collect().map(_.getString(0)).toSeq == Seq("/v/1"))
  }

  test("a variable bound as object in two patterns can be filtered") {
    val store = storeOf(Seq(
      "<c://w/1> <c://o#p> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> .",
      "<c://w/2> <c://o#q> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?x ?y WHERE { ?x <c://o#p> ?v . ?y <c://o#q> ?v .
        |FILTER (?v > 5) }""".stripMargin)
    assert(r.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("/w/1", "/w/2")))
  }

  // ---- multimodal plumbing ----

  test("stub decode is deterministic with a fixed batch shape") {
    val content = Multimodal.contentStore(docs.limit(20))
    val d1 = Multimodal.decode(spark, content).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](3)).toMap
    val d2 = Multimodal.decode(spark, content).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](3)).toMap
    assert(d1.keySet.size == 20)
    assert(d1.values.forall(_.length == 64), "8x8 pixel payload")
    assert(d1 == d2, "decode is deterministic")
    val feats = Multimodal.features(
      Multimodal.decode(spark, content)).collect()
    assert(feats.forall(_.getSeq[Float](1).length == 4))
  }

  test("PNG codec: encode/decode round-trips exactly under every filter") {
    import graft.pipeline.Png
    val rnd = new scala.util.Random(7)
    // each fixed filter type alone, then the cycling strategy
    (Seq[Int => Int](_ => 0, _ => 1, _ => 2, _ => 3, _ => 4, _ % 5))
      .zipWithIndex.foreach { case (filt, fi) =>
        val (w, h) = (3 + fi, 5 + fi)
        val px = Array.fill(w * h)(rnd.nextInt(256))
        val bytes = Png.encodeGray(w, h, px, filt)
        assert(Png.isPng(bytes))
        val (dw, dh, out) = Png.decode(bytes)
        assert(dw == w && dh == h)
        // grayscale decode is exact: v/255 round-trips to v
        assert(out.map(f => math.round(f * 255)).toSeq == px.toSeq,
          s"filter strategy #$fi")
      }
    // RGB decodes through Rec.601 luma
    val rgb = Array[Byte](255.toByte, 0, 0, /**/ 0, 255.toByte, 0,
      0, 0, 255.toByte, /**/ 255.toByte, 255.toByte, 255.toByte)
    val (w2, h2, luma) = Png.decode(Png.encode(2, 2, 2, rgb))
    assert(w2 == 2 && h2 == 2)
    assert(math.abs(luma(0) - 0.299f) < 1e-3 &&
      math.abs(luma(1) - 0.587f) < 1e-3 &&
      math.abs(luma(2) - 0.114f) < 1e-3 && math.abs(luma(3) - 1.0f) < 1e-3)
    // fail-loud: interlace flag (IHDR byte 28), truncation, garbage
    val good = Png.encodeGray(4, 4, Array.fill(16)(128))
    val interlaced = good.clone(); interlaced(28) = 1
    // re-sign the IHDR chunk (type+body = bytes 12..28, CRC at 29..32)
    // so the decoder reaches the interlace check, not the CRC check
    val crc = new java.util.zip.CRC32()
    crc.update(interlaced, 12, 17)
    val cv = crc.getValue.toInt
    (0 to 3).foreach(i => interlaced(29 + i) = ((cv >>> (24 - 8 * i)) & 0xff).toByte)
    val ie = intercept[IllegalArgumentException] { Png.decode(interlaced) }
    assert(ie.getMessage.contains("interlaced"))
    intercept[IllegalArgumentException] { Png.decode(good.take(40)) }
    intercept[IllegalArgumentException] { Png.decode("nope".getBytes) }
  }

  test("ImageIO codecs: BMP and GIF round-trip exactly, JPEG flat " +
      "tones within DC tolerance, fail-loud on corrupt payloads") {
    import graft.pipeline.Images
    val rnd = new scala.util.Random(3)
    val (w, h) = (10, 7)
    val px = Array.fill(w * h)(rnd.nextInt(256))
    for (fmt <- Seq("bmp", "gif")) {
      val bytes = Images.encodeGray(w, h, px, fmt)
      assert(if (fmt == "bmp") Images.isBmp(bytes) else Images.isGif(bytes))
      assert(Images.hasImageIoCodec(bytes) && !graft.pipeline.Png.isPng(bytes))
      val (dw, dh, out) = Images.decode(bytes)
      assert(dw == w && dh == h)
      assert(out.map(f => math.round(f * 255)).toSeq == px.toSeq,
        s"$fmt gray round-trip must be exact")
    }
    // JPEG: flat tones round-trip within DC-quantization error
    for (tone <- Seq(0, 37, 128, 200, 255)) {
      val bytes = Images.encodeGray(16, 16, Array.fill(256)(tone), "jpg")
      assert(Images.isJpeg(bytes))
      val (dw, dh, out) = Images.decode(bytes)
      assert(dw == 16 && dh == 16)
      val maxErr = out.map(f => math.abs(math.round(f * 255) - tone)).max
      info(s"jpeg tone $tone maxErr $maxErr")
      assert(maxErr <= 8, s"tone $tone err $maxErr")
    }
    // fail-loud: a payload CLAIMING a decodable signature with a
    // garbage body must throw, never fall back to the fake decoder
    intercept[Exception] { Images.decode(
      Array(0xff, 0xd8, 0xff).map(_.toByte) ++ Array.fill[Byte](20)(7)) }
    intercept[Exception] { Images.decode(
      "BM".getBytes ++ Array.fill[Byte](10)(1)) }
  }

  test("BMP/GIF/JPEG payloads take the real ImageIO decode path " +
      "through Multimodal.decode") {
    import graft.pipeline.Images
    import spark.implicits._
    val px = Array.tabulate(48)(i => (i * 5) % 256)
    val rows = Seq(
      ("/img/bmp", "image/bmp", Images.encodeGray(8, 6, px, "bmp")),
      ("/img/gif", "image/gif", Images.encodeGray(8, 6, px, "gif")),
      ("/img/jpg", "image/jpeg",
        Images.encodeGray(8, 6, Array.fill(48)(100), "jpg")))
      .toDF("path", "mimeType", "data")
    val dec = Multimodal.decode(spark, rows).collect()
      .map(r => r.getString(0) -> r).toMap
    // BMP/GIF: exact pixels (NOT the 8x8 fake — dims prove routing)
    for (p <- Seq("/img/bmp", "/img/gif")) {
      val r = dec(p)
      assert(r.getInt(1) == 8 && r.getInt(2) == 6, p)
      assert(r.getSeq[Float](3).map(f => math.round(f * 255)).toSeq ==
        px.toSeq, p)
    }
    val j = dec("/img/jpg")
    assert(j.getInt(1) == 8 && j.getInt(2) == 6)
    assert(j.getSeq[Float](3).forall(f =>
      math.abs(math.round(f * 255) - 100) <= 8))
  }

  test("PNG payloads take the real decode path end-to-end " +
      "(decode -> resize -> features)") {
    import graft.pipeline.Png
    import spark.implicits._
    // 8x8 gradient image: pixel(i) = i*4 (0..252), all filters cycled
    val px = Array.tabulate(64)(_ * 4)
    val content = Seq(("/img/real", "image/png", Png.encodeGray(8, 8, px)))
      .toDF("path", "mimeType", "data")
    val dec = Multimodal.decode(spark, content).collect().head
    assert(dec.getInt(1) == 8 && dec.getInt(2) == 8)
    assert(dec.getSeq[Float](3).map(f => math.round(f * 255)).toSeq ==
      px.toSeq, "decoded pixels are the encoded bytes, not a fake hash")
    // resize f=2: block means of the gradient
    val resized = Multimodal.resize(Multimodal.decode(spark, content), 2)
      .collect().head
    assert(resized.getInt(1) == 4 && resized.getInt(2) == 4)
    val exp = for (oy <- 0 until 4; ox <- 0 until 4) yield {
      val s = (for (dy <- 0 to 1; dx <- 0 to 1)
        yield px((oy * 2 + dy) * 8 + ox * 2 + dx) / 255.0f).sum
      s / 4.0f
    }
    resized.getSeq[Float](3).zip(exp).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-5f)
    }
    // features: 4 quadrant means over the decoded frame
    val feats = Multimodal.features(Multimodal.decode(spark, content))
      .collect().head.getSeq[Float](1)
    assert(feats.length == 4 && feats.forall(f => f >= 0f && f <= 1f))
    // a payload CLAIMING PNG (valid signature, corrupt body) fails
    // loud, never falls back to the fake decoder
    val sigPlusGarbage =
      Png.encodeGray(2, 2, Array(1, 2, 3, 4)).take(8) ++
        Array.fill[Byte](10)(42)
    val bad = Seq(("/img/bad", "image/png", sigPlusGarbage))
      .toDF("path", "mimeType", "data")
    intercept[Exception] { Multimodal.decode(spark, bad).collect() }
  }

  test("metadata-only content queries never read the binary payload " +
      "column (pruning proof)") {
    import graft.pipeline.Multimodal
    // the 100 TB claim in Multimodal's doc: payloads live in a binary
    // column of the content table, and metadata queries must prune it
    // at the SCAN — assert on the parquet ReadSchema, not just rows
    TempDir("graft_content_prune") { d =>
      val dir = d.toString
      Multimodal.pngContentStore(spark, docs.limit(50))
        .write.mode("overwrite").parquet(dir)
      val meta = spark.read.parquet(dir)
        .select("path", "mimeType", "dataLength")
      meta.collect()
      val scanStr = meta.queryExecution.executedPlan.toString
      assert(scanStr.contains("ReadSchema"))
      assert(!scanStr.contains("data:binary"),
        s"metadata projection read the payload column:\n$scanStr")
      // control: the decode path DOES read it
      val dec = spark.read.parquet(dir).select("path", "data")
      assert(dec.queryExecution.executedPlan.toString.contains("data:binary"))
    }
  }

  test("WAV codec property: arbitrary PCM16 clips round-trip exactly") {
    import graft.pipeline.Wav
    val gen = for {
      rate <- org.scalacheck.Gen.oneOf(8000, 16000, 44100)
      ch <- org.scalacheck.Gen.oneOf(1, 2)
      frames <- org.scalacheck.Gen.chooseNum(1, 400)
      samples <- org.scalacheck.Gen.listOfN(frames * ch,
        org.scalacheck.Gen.chooseNum(Short.MinValue, Short.MaxValue))
    } yield (rate, ch, samples.map(_.toShort).toArray)
    org.scalacheck.Gen.listOfN(60, gen).sample.get.foreach {
      case (rate, ch, samples) =>
        val (r, c, out) = Wav.decode(Wav.encodePcm16(rate, ch, samples))
        assert(r == rate && c == ch && out.length == samples.length / ch)
        // per-frame channel-mean in sample units round-trips exactly:
        // the mean of <=2 shorts is a multiple of 0.5, and k/65536
        // floats are exact
        val expect = samples.grouped(ch)
          .map(f => f.map(_.toInt).sum.toFloat / (ch * 32768.0f)).toSeq
        assert(out.toSeq == expect)
    }
  }

  test("PNG frame stream splits by chunk walk and decodes per frame") {
    import graft.pipeline.{Multimodal, Png}
    import spark.implicits._
    // three frames with distinct dims/content concatenated
    val f0 = Png.encodeGray(3, 2, Array(0, 50, 100, 150, 200, 250))
    val f1 = Png.encodeGray(2, 2, Array(1, 2, 3, 4))
    val f2 = Png.encodeGray(4, 1, Array(9, 8, 7, 6))
    val content = Seq(("/video/a", "video/x-png-stream", f0 ++ f1 ++ f2))
      .toDF("path", "mimeType", "data")
    val rows = Multimodal.decodeFrames(spark, content)
      .orderBy("frame_no").collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq ==
      Seq((0, 3, 2), (1, 2, 2), (2, 4, 1)))
    assert(rows(1).getSeq[Float](4).map(f => math.round(f * 255)).toSeq ==
      Seq(1, 2, 3, 4))
    // a stream not STARTING with a signature fails loud
    val bad = Seq(("/video/bad", "video/x-png-stream",
      Array[Byte](1, 2, 3) ++ f0)).toDF("path", "mimeType", "data")
    intercept[Exception] { Multimodal.decodeFrames(spark, bad).collect() }
    // a corrupt middle frame fails loud, not silently skipped
    val corrupt = Seq(("/video/c", "video/x-png-stream",
      f0 ++ f1.take(20) ++ f2)).toDF("path", "mimeType", "data")
    intercept[Exception] { Multimodal.decodeFrames(spark, corrupt).collect() }
    // junk between two valid frames (no signature at the boundary the
    // chunk walk lands on) fails loud too
    val junk = Seq(("/video/j", "video/x-png-stream",
      f0 ++ Array[Byte](0, 0, 0) ++ f1)).toDF("path", "mimeType", "data")
    intercept[Exception] { Multimodal.decodeFrames(spark, junk).collect() }
  }

  test("frame split is immune to signature bytes inside IDAT " +
      "(chunk-walk, not signature-scan)") {
    // A stored (uncompressed) deflate block whose pixel bytes ARE the
    // 8-byte PNG signature: a signature-scan splitter would false-split
    // mid-frame and fail loud on a VALID stream; the chunk walk derives
    // each frame's extent from its chunk structure and must decode both
    // frames exactly.
    val sigPixels = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0D, 0x0A, 0x1A, 0x0A)
    def storedPng(pixels: Array[Int]): Array[Byte] = {
      // 1-row gray image, filter 0, Deflater.NO_COMPRESSION => the raw
      // filtered bytes appear verbatim inside IDAT
      val filtered = Array[Byte](0) ++ pixels.map(p => (p & 0xff).toByte)
      val defl = new java.util.zip.Deflater(
        java.util.zip.Deflater.NO_COMPRESSION)
      defl.setInput(filtered); defl.finish()
      val z = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!defl.finished()) { val n = defl.deflate(buf); z.write(buf, 0, n) }
      defl.end()
      val out = new java.io.ByteArrayOutputStream()
      Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
        .foreach(out.write)
      def be32(v: Int): Unit = {
        out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff)
      }
      def chunk(t: String, body: Array[Byte]): Unit = {
        be32(body.length)
        val tb = t.getBytes("US-ASCII")
        out.write(tb, 0, 4); out.write(body, 0, body.length)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(body)
        be32(crc.getValue.toInt)
      }
      val ihdr = new java.io.ByteArrayOutputStream()
      def hbe32(v: Int): Unit = {
        ihdr.write((v >>> 24) & 0xff); ihdr.write((v >>> 16) & 0xff)
        ihdr.write((v >>> 8) & 0xff); ihdr.write(v & 0xff)
      }
      hbe32(pixels.length); hbe32(1)
      ihdr.write(8); ihdr.write(0); ihdr.write(0); ihdr.write(0); ihdr.write(0)
      chunk("IHDR", ihdr.toByteArray)
      chunk("IDAT", z.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    val f0 = storedPng(sigPixels)
    // the trap is real: a full signature occurs INSIDE f0's bytes
    // beyond the leading one
    val sigB = sigPixels.map(_.toByte)
    assert((9 until f0.length - 8).exists(o =>
      sigB.indices.forall(i => f0(o + i) == sigB(i))),
      "fixture must embed a signature inside IDAT")
    val f1 = storedPng(Array(1, 2, 3, 4))
    val frames = graft.functions.PngFrames.compute(f0 ++ f1)
    assert(frames.numElements() == 2)
    val r0 = frames.getStruct(0, 3)
    assert(r0.getInt(0) == 8 && r0.getInt(1) == 1)
    assert(r0.getArray(2).toFloatArray().map(f => math.round(f * 255)).toSeq
      == sigPixels.toSeq)
    val r1 = frames.getStruct(1, 3)
    assert(r1.getInt(0) == 4 && r1.getInt(1) == 1)
  }

  test("PNG decode verifies chunk CRCs (fail-loud on bit corruption)") {
    import graft.pipeline.Png
    val good = Png.encodeGray(4, 4, Array.tabulate(16)(_ * 16))
    assert(Png.decode(good)._1 == 4) // sanity: pristine bytes decode
    // flip one byte inside the IDAT body (IHDR spans bytes 8..32, so
    // IDAT data starts at 41) — structure stays valid, CRC must trip
    val flipped = good.clone(); flipped(44) = (flipped(44) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] { Png.decode(flipped) }
    assert(e.getMessage.contains("CRC"))
    // corruption in the header chunk: flip an IHDR body byte
    val flippedHdr = good.clone(); flippedHdr(26) = 9
    intercept[IllegalArgumentException] { Png.decode(flippedHdr) }
  }

  test("WAV codec: PCM16 round-trip, stereo averaging, chunk walk, " +
      "fail-loud") {
    import graft.pipeline.Wav
    val rnd = new scala.util.Random(11)
    // mono round-trip is exact through the /32768 normalization
    val mono = Array.fill(300)((rnd.nextInt(65536) - 32768).toShort)
    val (rate, ch, got) = Wav.decode(Wav.encodePcm16(8000, 1, mono))
    assert(rate == 8000 && ch == 1)
    assert(got.map(f => math.round(f * 32768).toShort).toSeq == mono.toSeq)
    // stereo decodes to the per-frame channel average
    val stereo = Array[Short](100, 200, -300, 100, 32767, 32767)
    val (_, ch2, avg) = Wav.decode(Wav.encodePcm16(44100, 2, stereo))
    assert(ch2 == 2 && avg.length == 3)
    // per-frame mean stays in sample units: (100+200)/2 / 32768
    assert(math.abs(avg(0) - 150f / 32768f) < 1e-6f)
    assert(math.abs(avg(1) - (-100f) / 32768f) < 1e-6f)
    // ancillary chunks (odd-length, word-aligned) are skipped
    val plain = Wav.encodePcm16(8000, 1, mono)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes ++ Array[Byte](0) // pad
    val withList = plain.take(12) ++ listChunk ++ plain.drop(12)
    // fix the RIFF size field (bytes 4-7, little-endian)
    val riffLen = withList.length - 8
    (0 to 3).foreach(i => withList(4 + i) = ((riffLen >> (8 * i)) & 0xff).toByte)
    val (r3, _, got3) = Wav.decode(withList)
    assert(r3 == 8000 && got3.length == mono.length)
    // fail-loud: garbage, truncation, non-PCM tag, wrong bit depth
    intercept[IllegalArgumentException] { Wav.decode("RIFFnope".getBytes) }
    intercept[IllegalArgumentException] { Wav.decode(plain.take(30)) }
    val badTag = plain.clone(); badTag(20) = 3 // IEEE float tag
    intercept[IllegalArgumentException] { Wav.decode(badTag) }
    val badBits = plain.clone(); badBits(34) = 8
    intercept[IllegalArgumentException] { Wav.decode(badBits) }
  }

  test("audio decode -> features end-to-end over real WAV payloads") {
    import graft.pipeline.{Multimodal, Wav}
    import spark.implicits._
    // 1 second at 8 Hz alternating +/-: 3 sign flips across the 8
    // samples (non-cyclic consecutive-pair count), |s| = 16384
    // everywhere -> rms = 0.5, peak = 0.5
    val s = Array[Short](16384, 16384, -16384, -16384, 16384, 16384,
      -16384, -16384)
    val content = Seq(("/audio/a", "audio/wav", Wav.encodePcm16(8, 1, s)))
      .toDF("path", "mimeType", "data")
    val dec = Multimodal.decodeAudio(spark, content)
    val row = dec.collect().head
    assert(row.getInt(1) == 8 && row.getInt(2) == 1 &&
      row.getSeq[Float](3).length == 8)
    val f = Multimodal.audioFeatures(dec).collect().head
    assert(math.abs(f.getAs[Double]("duration_sec") - 1.0) < 1e-9)
    assert(math.abs(f.getAs[Double]("rms") - 0.5) < 1e-6)
    assert(f.getAs[Int]("zero_crossings") == 3)
    assert(math.abs(f.getAs[Float]("peak") - 0.5f) < 1e-6f)
    // a non-WAV payload through the audio path fails loud
    val bad = Seq(("/audio/bad", "audio/wav", "not audio".getBytes))
      .toDF("path", "mimeType", "data")
    intercept[Exception] { Multimodal.decodeAudio(spark, bad).collect() }
  }

  test("resize average-pools blocks exactly and fails loud on " +
      "non-divisible dims") {
    import spark.implicits._
    // 4x4 row-major image with known 2x2 block means
    val px = Array(
      0f, 1f, 2f, 3f,
      4f, 5f, 6f, 7f,
      8f, 9f, 10f, 11f,
      12f, 13f, 14f, 15f)
    val decoded = Seq(("/img/a", 4, 4, px))
      .toDF("path", "width", "height", "pixels")
    val out = Multimodal.resize(decoded, 2).collect().head
    assert(out.getInt(1) == 2 && out.getInt(2) == 2)
    assert(out.getSeq[Float](3) == Seq(2.5f, 4.5f, 10.5f, 12.5f))
    val bad = Seq(("/img/b", 3, 4, px.take(12)))
      .toDF("path", "width", "height", "pixels")
    val e = intercept[Exception] {
      Multimodal.resize(bad, 2).collect()
    }
    assert(e.getMessage != null)
    // keys carry: frame_no rides a frame-stream resize
    val framed = Seq(("/img/a", 3L, 4, 4, px))
      .toDF("path", "frame_no", "width", "height", "pixels")
    val kept = Multimodal.resize(framed, 2, Seq("path", "frame_no"))
      .collect().head
    assert(kept.getLong(1) == 3L && kept.getInt(2) == 2)
  }

  test("audioResample: integer decimation, ceil length, rate guard") {
    val s2 = spark
    import s2.implicits._
    // 5 samples / 2 → indices 0,2,4 (ceil), rate halves
    val decoded = Seq(("/a/1", 8000, Seq(0.1f, 0.2f, 0.3f, 0.4f, 0.5f)))
      .toDF("path", "sample_rate", "samples")
    val out = Multimodal.audioResample(decoded, 2).collect().head
    assert(out.getInt(1) == 4000)
    assert(out.getSeq[Float](2) == Seq(0.1f, 0.3f, 0.5f))
    // non-divisible rate fails loud
    val bad = Seq(("/a/2", 8001, Seq(0.1f)))
      .toDF("path", "sample_rate", "samples")
    intercept[Exception] { Multimodal.audioResample(bad, 2).collect() }
  }

  test("audioFrames: per-window energy, tail drop, empty guard") {
    val s2 = spark
    import s2.implicits._
    // 5 samples, frameLen 2 → 2 frames, trailing sample dropped
    val decoded = Seq(("/a/1", 8000, Seq(0.5f, -0.5f, 0.25f, 0f, 1f)))
      .toDF("path", "sample_rate", "samples")
    val out = Multimodal.audioFrames(decoded, 2).collect().head
    assert(out.getInt(2) == 2)
    val e = out.getSeq[Double](3)
    assert(math.abs(e(0) - 0.5) < 1e-12 && math.abs(e(1) - 0.0625) < 1e-12)
    // shorter than one frame → zero frames, empty energies (not an error)
    val tiny = Seq(("/a/2", 8000, Seq(0.5f)))
      .toDF("path", "sample_rate", "samples")
    val t = Multimodal.audioFrames(tiny, 2).collect().head
    assert(t.getInt(2) == 0 && t.getSeq[Double](3).isEmpty)
  }

  test("qp date ranges compare on the timestamp slot") {
    val store = GraftStore.forDir(spark, Sf)
    val got = Search.run(store, Search.Request(path = "/lineitem",
      qp = Some("shipdate>1996-03-01,shipdate<<1997-06-30"))).count()
    val want = spark.read.parquet(s"$Sf/lineitem.parquet")
      .where(col("l_shipdate") > "1996-03-01 00:00:00" &&
        col("l_shipdate") <= "1997-06-30 00:00:00").count()
    assert(got == want && got > 0)
  }

  test("links resolve to their target's current version") {
    val store = storeOf(Seq(
      "<c://real/1> <c://o#tag> \"target\" .",
      s"<c://alias/1> <${graft.ingest.Rdf.SysNs}linkTo> <c://real/1> ."),
      T("2024-01-01 00:00:00"))
    val read = Search.read(store, Seq("/alias/1"))
    assert(read.select("system.kind").head().getString(0) == "LinkInfoton")
    val resolved = Search.resolveLinks(store, read)
    assert(paths(resolved) == Set("/real/1"))
    assert(resolved.select(Search.fieldS("tag")).head().getString(0) == "target")
  }

  test("SPARQL CONSTRUCT instantiates the template per solution") {
    val store = GraftStore.forDir(spark, Sf)
    val rows = Sparql.construct(store,
      """PREFIX ont: <cmwell://ont#>
        |CONSTRUCT { ?n <cmwell://ont#partOf> ?r }
        |WHERE { ?n ont:refRegion ?r . ?r ont:name "ASIA" }""".stripMargin)
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getString(1) == "partOf" &&
      r.getString(0).startsWith("/nation/") &&
      r.getString(2).startsWith("/region/")))
  }

  // ---- _ow overwrite, _sp subgraph, stp views ----

  test("overwrite replays versions verbatim and recomputes current") {
    val s1 = storeOf(Seq("<c://w/1> <c://o#a> \"v1\" ."),
      T("2024-01-01 00:00:00"))
    val s2 = storeOf(Seq("<c://w/1> <c://o#a> \"v2\" ."),
      T("2024-06-01 00:00:00"))
    val newer = s2.infotons.where(col("system.path") === "/w/1")
    val replayedUuid = newer.select("system.uuid").head().getString(0)
    val merged = graft.ingest.Merger.overwrite(spark, s1.infotons, newer)
    val versions = merged.where(col("system.path") === "/w/1")
      .select(col("system.uuid"), col("system.current"),
        col("system.indexTime")).collect()
    assert(versions.length == 2)
    val current = versions.filter(_.getBoolean(1))
    assert(current.length == 1 && current.head.getString(0) == replayedUuid)
  }

  test("_sp PATHS restrict the queried subgraph") {
    val store = GraftStore.forDir(spark, Sf)
    val q = """PREFIX ont: <cmwell://ont#>
              |SELECT ?n WHERE { ?n ont:refRegion ?r . ?r ont:name "ASIA" }
              |ORDER BY ?n""".stripMargin
    val both = Sparql.sp(store, Seq(
      Search.Request(path = "/nation"), Search.Request(path = "/region")), q)
    assert(both.count() == 5)
    // regions not populated -> the ?r name pattern has no triples
    val nationOnly = Sparql.sp(store,
      Seq(Search.Request(path = "/nation")), q)
    assert(nationOnly.count() == 0)
    // PATHS with xg: nations expanded along refRegion pull the regions
    // into the subgraph without a second PATHS line (SPParser's
    // per-path xg)
    val expanded = Sparql.spExpanded(store, Seq(
      Sparql.SpPath(Search.Request(path = "/nation"),
        xg = Some("refRegion"))), q)
    assert(expanded.count() == 5)
    // and yg-expanded upstream traversal: regions + incoming refRegion
    val ygExpanded = Sparql.spExpanded(store, Seq(
      Sparql.SpPath(Search.Request(path = "/region"),
        yg = Some("<refRegion"))), q)
    assert(ygExpanded.count() == 5)
    // gqp on a PATHS line FILTERS the base before expansion: only
    // nations whose region is ASIA populate, then xg pulls the region
    // in — same 5 rows, narrower subgraph than the unfiltered line
    val gqpFiltered = Sparql.spExpanded(store, Seq(
      Sparql.SpPath(Search.Request(path = "/nation"),
        xg = Some("refRegion"), gqp = Some(">refRegion[name::ASIA]"))), q)
    assert(gqpFiltered.count() == 5)
    val gqpNone = Sparql.spExpanded(store, Seq(
      Sparql.SpPath(Search.Request(path = "/nation"),
        xg = Some("refRegion"),
        gqp = Some(">refRegion[name::NOSUCH]"))), q)
    assert(gqpNone.count() == 0)
  }

  test("stp refreshes a materialized view only when the sensor fires") {
    import graft.streaming.Stp
    val store = GraftStore.forDir(spark, Sf)
    val job = Stp.Job("asia-nations", "/nation", None,
      """PREFIX ont: <cmwell://ont#>
        |SELECT ?n WHERE { ?n ont:refRegion ?r . ?r ont:name "ASIA" }
        |ORDER BY ?n""".stripMargin)
    val r1 = Stp.refresh(store, job, Stp.initialToken(job))
    assert(r1.newVersions == 25 && r1.view.get.count() == 5)
    val r2 = Stp.refresh(store, job, r1.nextToken)
    assert(r2.newVersions == 0 && r2.view.isEmpty)
    assert(r2.nextToken == r1.nextToken)
  }

  test("materialized parquet store answers identically with pruned scans") {
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_store_spec") { d =>
      val dir = d.toString
      GraftStore.materialize(store, dir)
      val disk = GraftStore.forParquet(spark, dir)
      // search parity
      val q = Search.Request(path = "/customer", qp = Some("acctbal>5000"))
      assert(paths(Search.run(disk, q)) == paths(Search.run(store, q)))
      // graph parity through the predicate-partitioned quad view
      val g = graft.ops.Graph.gqp(disk,
        Search.run(disk, Search.Request(path = "/customer")),
        "<refCustomer[totalprice>200000]")
      val gMem = graft.ops.Graph.gqp(store,
        Search.run(store, Search.Request(path = "/customer")),
        "<refCustomer[totalprice>200000]")
      assert(paths(g) == paths(gMem))
      // the edge scan is partition-pruned to one predicate
      val plan = graft.ops.Admin.debugInfo(
        disk.quads.where(col("predicate") === "refCustomer"))
      assert(plan.contains("PartitionFilters") &&
        plan.contains("refCustomer"))
      // a comma-field-list level (one refEdges over a SET of predicates,
      // the round-9 grouped-hop shape) prunes to EXACTLY those predicate
      // partitions — the isin reaches the scan as a partition filter
      val multi = graft.ops.Admin.debugInfo(
        disk.refEdges(Seq("refOrders", "refPart")))
      assert(multi.contains("PartitionFilters") &&
        multi.contains("refOrders") && multi.contains("refPart") &&
        !multi.contains("refCustomer"))
    }
  }

  test("mergePruned rewrites only the affected __parent partitions") {
    import graft.ingest.Merger
    import graft.ingest.Merger.{Command, FieldValue}
    import spark.implicits._
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_merge_pruned") { d =>
      val dir = d.toString
      GraftStore.materialize(store, dir)
      val infRoot = new java.io.File(s"$dir/infotons")
      def partState(): Map[String, Set[(String, Long, Long)]] =
        infRoot.listFiles().filter(_.isDirectory).map { d =>
          java.net.URLDecoder.decode(
            d.getName.stripPrefix("__parent="), "UTF-8") ->
            d.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
      val before = partState()
      val cmds = Seq(Command("update", "/customer/1",
        T("2024-07-01 00:00:00"),
        fields = Map("acctbal" ->
          Seq(FieldValue("999.0", Some(999.0), None, None, "d", None, None))),
        deleteFields = Map("acctbal" -> Seq.empty))).toDS()
      val affected = Merger.mergePruned(spark, dir, cmds)
      assert(affected.toSet == Set("/customer", "/", "$root"))
      val after = partState()
      // every UNTOUCHED partition keeps its exact files — proof the
      // rewrite never opened them for writing
      val untouched = before.keySet -- affected.toSet
      assert(untouched.nonEmpty)
      untouched.foreach(p => assert(after(p) == before(p),
        s"partition $p was rewritten"))
      // the read side is partition-pruned: the merge's slice scan reads
      // only the affected directories
      import org.apache.spark.sql.execution.FileSourceScanExec
      val pruned = spark.read.parquet(s"$dir/infotons")
        .where(col("__parent").isin(affected: _*))
      val scan = pruned.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f }.head
      val nParts = scan.selectedPartitions.partitionCount
      assert(nParts == affected.length - 1 || nParts == affected.length,
        s"read $nParts partitions for ${affected.length} affected dirs")
      assert(nParts < before.size) // $root may not exist yet
      // merged content is correct on re-open: history appended, flag
      // flipped, new value in place
      val disk = GraftStore.forParquet(spark, dir)
      val versions = disk.infotons
        .where(col("system.path") === "/customer/1")
      assert(versions.count() == 2)
      val cur = versions.where(col("system.current"))
      assert(cur.count() == 1)
      assert(cur.select(element_at(col("fields")("acctbal"), 1)
        .getField("n")).head().getDouble(0) == 999.0)
    }
  }

  test("mergeBulk takes the batch mergePruned refuses and swaps in a " +
      "new snapshot generation") {
    import graft.ingest.Merger
    import graft.ingest.Merger.{Command, FieldValue}
    import spark.implicits._
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_merge_bulk") { d =>
      val dir = d.toString
      GraftStore.materializeInfotons(store, dir)
      // 10001 distinct paths: one past the incremental contract
      // (local val: the lambda must not capture the spec instance)
      val t0 = T("2024-07-01 00:00:00")
      val cmds = spark.range(10001).as[Long].map { i =>
        Command("write", s"/bulk/$i", t0,
          Map("v" -> Seq(FieldValue(i.toString, Some(i.toDouble),
            None, None, "l", None, None))), Map.empty)
      }
      // the incremental path fails loud...
      val e = intercept[IllegalArgumentException] {
        Merger.mergePruned(spark, dir, cmds) }
      assert(e.getMessage.contains("bulk"))
      // ...and the bulk fallback applies the same batch
      Merger.mergeBulk(spark, dir, cmds)
      val inf = spark.read.parquet(s"$dir/infotons")
      val bulk = inf.where(col("system.path") === "/bulk/5000")
      assert(bulk.count() == 1)
      assert(bulk.select(element_at(col("fields")("v"), 1).getField("n"))
        .head().getDouble(0) == 5000.0)
      // parent directory synthesized exactly once
      assert(inf.where(col("system.path") === "/bulk").count() == 1)
      // non-commanded rows survive the generational swap byte-for-value
      val c1 = inf.where(col("system.path") === "/customer/1")
      assert(c1.count() == 1 && c1.where(col("system.current")).count() == 1)
      // no generation debris: the swap left only the live layout
      val leftovers = new java.io.File(dir).listFiles()
        .map(_.getName).filter(n => n.contains("__gen_") || n.contains("__old_"))
      assert(leftovers.isEmpty, s"generation debris: ${leftovers.toSeq}")
    }
  }

  test("opening a store heals a mergeBulk crash window automatically") {
    import java.nio.file.{Files, Paths}
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_recover_open") { d =>
      val dir = d.toString
      GraftStore.materialize(store, dir)
      val expected = spark.read.parquet(s"$dir/infotons").count()
      // simulate a hard kill between mergeBulk's two renames: the live
      // layout is gone, the merged generation (complete — materialize's
      // parquet write stamped its _SUCCESS) is stranded under __gen_
      Files.move(Paths.get(s"$dir/infotons"),
        Paths.get(s"$dir/infotons__gen_42"))
      assert(Files.exists(Paths.get(s"$dir/infotons__gen_42/_SUCCESS")))
      // no manual operator step: forParquet itself rolls forward
      val disk = GraftStore.forParquet(spark, dir)
      assert(Files.exists(Paths.get(s"$dir/infotons")))
      assert(!Files.exists(Paths.get(s"$dir/infotons__gen_42")))
      assert(disk.infotons.count() == expected)
    }
  }

  test("porter-lite stem: driver fold equals the Spark regexp fold") {
    import spark.implicits._
    import graft.qp.TextAnalyzer
    // inflection families incl. every rule's edge: plural/-ss keep,
    // eed short-stem keep, at/bl/iz and doubled-consonant and CVC
    // restorations, vowel-less keeps, y→i, final-e drop threshold
    val words = Seq("widgets", "widget", "caresses", "ponies", "pony",
      "miss", "gas", "agreed", "feed", "conflated", "troubling",
      "hopped", "hopping", "hoped", "hoping", "wired", "wiring", "wire",
      "wanted", "singing", "sing", "ring", "going", "carry", "carried",
      "carries", "sky", "package", "packages", "packaged", "packaging",
      "late", "used", "stating", "red", "q1", "a")
    val got = words.toDF("w")
      .select(TextAnalyzer.stemCol(col("w"))).as[String].collect()
    assert(words.map(TextAnalyzer.stem) == got.toSeq,
      "driver and executor stem folds diverged")
    // the families that must conflate (the point of the stemmer)
    def s(w: String) = TextAnalyzer.stem(w)
    assert(Seq("widgets", "widget").map(s).distinct.size == 1)
    assert(Seq("pony", "ponies").map(s).distinct.size == 1)
    assert(Seq("carry", "carried", "carries").map(s).distinct.size == 1)
    assert(Seq("hope", "hoped", "hoping").map(s).distinct.size == 1)
    assert(Seq("wire", "wired", "wiring").map(s).distinct.size == 1)
    assert(Seq("package", "packages", "packaged", "packaging")
      .map(s).distinct.size == 1)
    // and the keeps that must NOT be mangled into each other
    assert(s("sing") == "sing" && s("ring") == "ring" && s("sky") == "sky")
    assert(s("feed") == "feed" && s("miss") == "miss")
  }

  test("porter-lite stem property: driver equals executor on random tokens") {
    import spark.implicits._
    import graft.qp.TextAnalyzer
    import org.scalacheck.Gen
    // random alnum tokens (the tokenizer's output domain) — the fixed
    // vocabulary above pins the rule semantics; this guards the
    // replaceAll-vs-regexp_replace fold equivalence across the whole
    // input space (suffix pileups, digits, 1-char words)
    val tokenGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        10 -> Gen.alphaLowerChar, 2 -> Gen.numChar)).map(_.mkString))
    val words = Gen.listOfN(400, tokenGen).sample.get.distinct
    val got = words.toDF("w")
      .select(TextAnalyzer.stemCol(col("w"))).as[String].collect()
    assert(words.map(TextAnalyzer.stem) == got.toSeq,
      "driver and executor stem folds diverged on random input")
  }

  test("english analyzer: stemmed and raw phrase match disagree on the pinned probe") {
    import graft.qp.TextAnalyzer
    val store = GraftStore.forDir(spark, Sf)
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/part", qp = Some(qp), analyzer = an)))
    // "the widgets": zero rows raw (singular, article-free corpus)...
    assert(run("name:the widgets", TextAnalyzer.Standard).isEmpty)
    // ...but under English it is exactly the "widget" Contains set
    val stemmed = run("name:the widgets", TextAnalyzer.English)
    assert(stemmed.nonEmpty &&
      stemmed == run("name:widget", TextAnalyzer.Standard))
    // a stop-word-only probe analyzes to zero terms → matches nothing
    assert(run("name:the", TextAnalyzer.English).isEmpty)
    // _all routes through the same chain
    val all = paths(Search.run(store, Search.Request(path = "/",
      qp = Some("_all:widgets"), analyzer = TextAnalyzer.English)))
    assert(all.nonEmpty && all == paths(Search.run(store,
      Search.Request(path = "/", qp = Some("_all:widget")))))
  }

  test("full Porter (steps 2-4): canonical vocabulary + driver/executor drift") {
    import spark.implicits._
    import graft.qp.TextAnalyzer
    // canonical Porter outputs through the 1a-1c → 2 → 3 → 4 → 5a
    // pipeline; each pinned pair exercises a different step-2/3/4 rule
    // family. The one DOCUMENTED fold deviation from canonical Porter
    // (stacked derivational suffixes cascade within a step) is pinned
    // below as governmental → govern.
    val vocab = Seq(
      "governmental" -> "govern",     // fold deviation: Porter's
                                      // one-sub-per-step stops at
                                      // "government"; the shared fold
                                      // conflates the whole family
      "relational" -> "relat",        // 2: ational→ate, 5a e-drop
      "conditional" -> "condit",      // 2: tional→tion, 4: (t)ion
      "generalization" -> "gener",    // 2: ization→ize, 3: alize→al, 4: al
      "effective" -> "effect",        // 4: ive (m>1)
      "hopefulness" -> "hope",        // 2: fulness→ful, 3: ful→∅
      "dependent" -> "depend",        // 4: ent
      "adoption" -> "adopt",          // 4: (t)ion, stem-final t ≠ pair consonant
      "station" -> "station",         // 4: ion gate m>1 fails (m=1) — kept
      "electriciti" -> "electr",      // 3: iciti→ic, then 4: ic (m>1) —
                                      // cross-STEP cascade is canonical
      "operator" -> "oper",           // 2: ator→ate, 4: ate (m>1)
      "feed" -> "feed",               // untouched (1b eed guard)
      "widgets" -> "widget",          // step-1 only input unchanged by 2-4
      "controll" -> "control",        // 5b: double-l, m>1
      "controlled" -> "control",      // 1b keeps ll (Porter *L), 5b drops one
      "enrolling" -> "enrol",         // 1b ing-drop → enroll, 5b → enrol
      "install" -> "instal",          // 5b: canonical Porter (m=2)
      "roll" -> "roll")               // 5b gate m>1 fails (m=1) — kept
    vocab.foreach { case (in, want) =>
      assert(TextAnalyzer.stemFull(in) == want,
        s"stemFull($in) = ${TextAnalyzer.stemFull(in)}, want $want")
    }
    // driver fold == executor when-chain over the pinned vocabulary
    // plus random tokens (the same drift guard the lite stem has)
    val rnd = org.scalacheck.Gen.listOfN(300,
      org.scalacheck.Gen.chooseNum(1, 12).flatMap(n =>
        org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.frequency(
          10 -> org.scalacheck.Gen.alphaLowerChar,
          2 -> org.scalacheck.Gen.numChar)).map(_.mkString)))
      .sample.get.distinct
    val words = vocab.map(_._1) ++ rnd
    val got = words.toDF("w")
      .select(TextAnalyzer.stemFullCol(col("w"))).as[String].collect()
    assert(words.map(TextAnalyzer.stemFull) == got.toSeq,
      "driver and executor full-Porter folds diverged")
  }

  test("english analyzer: stop-word position gaps are preserved (ES match_phrase)") {
    import graft.qp.TextAnalyzer
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://d/1> <c://o#t> \"quick fox\" .",
      "<c://d/2> <c://o#t> \"quick the fox\" .",
      "<c://d/3> <c://o#t> \"quick brown fox\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String) = paths(Search.run(store,
      Search.Request(path = "/d", qp = Some(qp),
        analyzer = TextAnalyzer.English)))
    // the ES stop filter preserves position increments: an adjacent
    // probe must NOT match across a removed stop word...
    assert(run("t.o:quick fox") == Set("/d/1"))
    // ...and a probe with an interior stop word leaves a position slot
    // ANY single term may fill (slop-0 positional semantics)
    assert(run("t.o:quick the fox") == Set("/d/2", "/d/3"))
  }

  test("german analyzer: umlaut folding, light stemming, stop gaps, " +
      "driver/executor drift") {
    import graft.qp.TextAnalyzer
    // canonical light-German outputs (Savoy rules as the shared fold)
    val vocab = Seq(
      "ringen" -> "ring",       // step1 -en
      "ringe" -> "ring",        // step1 -e
      "rings" -> "ring",        // step1 -s after valid s-ending (g)
      "kindern" -> "kind",      // step1 -ern
      "häuser" -> "haus",       // umlaut fold + step1 -er ("-us" kept:
                                // s after vowel is not a valid ending)
      "süße" -> "suss",         // ß→ss + -e
      "schönsten" -> "schon",   // -en then -st: the two-step cascade
      "garten" -> "gart",       // -en
      "autos" -> "autos",       // -s gate: 'o' is not a valid s-ending
      "see" -> "see",           // -e gate: len>3 required
      "rot" -> "rot")           // no rule fires
    vocab.foreach { case (in, want) =>
      assert(TextAnalyzer.stemDe(in) == want,
        s"stemDe($in) = ${TextAnalyzer.stemDe(in)}, want $want")
    }
    // driver fold == executor expression over pinned + random tokens
    // (umlauts/ß included in the alphabet)
    import spark.implicits._
    val alphabet = "abcdefghijklmnopqrstuvwxyzäöüß0123456789"
    val rnd = new scala.util.Random(17)
    val words = vocab.map(_._1) ++ (1 to 300).map(_ =>
      (1 to (1 + rnd.nextInt(11)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
    val got = words.toDF("w")
      .select(TextAnalyzer.stemDeCol(col("w"))).as[String].collect()
    assert(words.map(TextAnalyzer.stemDe) == got.toSeq,
      "driver and executor german folds diverged")
    // end to end: umlauted German text, own tokenizer (umlauts are
    // letters, not delimiters), stop-word gap semantics
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://d/1> <c://o#t> \"Die große Blume\" .",
      "<c://d/2> <c://o#t> \"große Blumen im Garten\" .",
      "<c://d/3> <c://o#t> \"kleine Häuser\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/d", qp = Some(qp), analyzer = an)))
    // plural probe reaches the singular ONLY through the German chain
    assert(run("t.o:Blumen", TextAnalyzer.German) == Set("/d/1", "/d/2"))
    assert(run("t.o:blumen", TextAnalyzer.Standard) == Set("/d/2"))
    // umlaut fold: ASCII probe finds the umlauted plural
    assert(run("t.o:Haus", TextAnalyzer.German) == Set("/d/3"))
    // interior stop word leaves a position gap (ES slop-0 semantics)
    assert(run("t.o:Blumen im Garten", TextAnalyzer.German) == Set("/d/2"))
    // leading stop word trims away; phrase still anchors
    assert(run("t.o:die große Blume", TextAnalyzer.German) ==
      Set("/d/1", "/d/2"))
  }

  test("french analyzer: elision, minimal stemming, stop gaps, " +
      "driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.FrTerm
    // canonical minimal-stemmer outputs
    val vocab = Seq(
      "chevaux" -> "cheval",    // aux → al
      "journaux" -> "journal",
      "widgets" -> "widget",    // plural -s (len ≥ 6)
      "fleurs" -> "fleu",       // -s then -r: the documented cascade
      "roses" -> "roses",       // len < 6 gate: untouched
      "grandes" -> "grand",     // -s then -e cascade
      "belles" -> "bel",        // -s, -e, doubled-l collapse
      "heureux" -> "heureu",    // trailing x (not aux)
      "été" -> "été")           // short, untouched
    vocab.foreach { case (in, want) =>
      assert(FrTerm.stem(in) == want,
        s"stemFr($in) = ${FrTerm.stem(in)}, want $want")
    }
    // the per-token chain: elision before stop before stem
    assert(FrTerm.term("l'avion") == "avion")
    assert(FrTerm.term("d'énormes") == "énorm")
    assert(FrTerm.term("qu'il") == TextAnalyzer.PositionGap) // il = stop
    assert(FrTerm.term("aujourd'hui") == "aujourdhui") // interior apostrophe
    assert(FrTerm.term("les") == TextAnalyzer.PositionGap)
    // a dangling apostrophe is not an elision (nothing follows): the
    // bare letter survives as its own term on both sides
    assert(FrTerm.term("l'") == "l")
    assert(FrTerm.term("'") == "") // lone apostrophe normalizes away
    // driver tokenization == executor expression (incl. apostrophes,
    // accents, uppercase elision)
    import spark.implicits._
    val texts = Seq("L'avion des fleurs", "qu'il pleut aujourd'hui",
      "JOURNAUX et chevaux", "d'été l'", "abc", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.French.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    // tokensOf keeps untrimmed gaps; rebuild the same view driver-side
    val driverToks = texts.map(t => TextAnalyzer.French
      .queryTokens("x " + t + " x").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    // end to end over a French store
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://f/1> <c://o#t> \"l'avion rouge\" .",
      "<c://f/2> <c://o#t> \"les avions des lignes\" .",
      "<c://f/3> <c://o#t> \"la fleur du jardin\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/f", qp = Some(qp), analyzer = an)))
    // plural probe + elided doc: both normalize to "avion", so French
    // also reaches the elided singular; Standard only the literal
    assert(run("t.o:avions", TextAnalyzer.French) == Set("/f/1", "/f/2"))
    assert(run("t.o:avions", TextAnalyzer.Standard) == Set("/f/2"))
    // interior stop word leaves one position gap
    assert(run("t.o:fleur du jardin", TextAnalyzer.French) == Set("/f/3"))
  }

  test("spanish analyzer: light stemming, accent gate, stop gaps, " +
      "driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.EsTerm
    // canonical Savoy-2006 outputs
    val vocab = Seq(
      "gizmos" -> "gizm",       // -os drops both
      "casas" -> "cas",         // -as drops both
      "grandes" -> "grand",     // -es drops both
      "libro" -> "libr",        // trailing o
      "grande" -> "grand",      // trailing e
      "veces" -> "vez",         // -ces → -z
      "meses" -> "mes",         // -eses → -es
      "casa" -> "casa",         // len < 5 gate: untouched
      "más" -> "más",           // short keeps its accent
      "canción" -> "cancion",   // accent folds, no suffix rule
      "ciudad" -> "ciudad")     // no rule fires
    vocab.foreach { case (in, want) =>
      assert(EsTerm.stem(in) == want,
        s"stemEs($in) = ${EsTerm.stem(in)}, want $want")
    }
    // stop check runs on the raw folded token, accented forms included
    assert(EsTerm.term("los") == TextAnalyzer.PositionGap)
    assert(EsTerm.term("más") == TextAnalyzer.PositionGap)
    assert(EsTerm.term("también") == TextAnalyzer.PositionGap)
    assert(EsTerm.term("gizmos") == "gizm")
    // driver tokenization == executor expression (accents, case, ñ)
    import spark.implicits._
    val texts = Seq("Los GIZMOS de la señora", "más canciones aquí",
      "El niño come", "abc", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Spanish.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Spanish
      .queryTokens("x " + t + " x").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    // end to end over a Spanish store
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://e/1> <c://o#t> \"el libro grande\" .",
      "<c://e/2> <c://o#t> \"los libros grandes\" .",
      "<c://e/3> <c://o#t> \"un gizmo más\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/e", qp = Some(qp), analyzer = an)))
    // inflected probe reaches both numbers through the stemmer
    // (libros/libro → libr, grandes/grande → grand); Standard only
    // the literal
    assert(run("t.o:libros grandes", TextAnalyzer.Spanish) ==
      Set("/e/1", "/e/2"))
    assert(run("t.o:libros grandes", TextAnalyzer.Standard) == Set("/e/2"))
    // trailing stop word trims to the single stemmed term
    assert(run("t.o:gizmo más", TextAnalyzer.Spanish) == Set("/e/3"))
  }

  test("italian analyzer: elision, final-vowel stemming, stop gaps, " +
      "driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.ItTerm
    // canonical Savoy-2006 outputs (one final-vowel rule, len≥6 gate)
    val vocab = Seq(
      "widgeti" -> "widget",    // plain final -i
      "ragazzi" -> "ragazz",    // plain final -i
      "ragazze" -> "ragazz",    // plain final -e: plurals meet
      "banche" -> "banc",       // -he: hard-consonant spelling, h goes
      "fuochi" -> "fuoc",       // -hi likewise
      "studio" -> "stud",       // -io: i goes with the o
      "grazie" -> "graz",       // -ie
      "università" -> "universit", // accent folds, then final -a
      "piccolo" -> "piccol",    // plain final -o
      "piccoli" -> "piccol",    // singular and plural meet
      "casa" -> "casa",         // len < 6 gate: untouched
      "gatti" -> "gatti",       // len < 6 gate: short plurals pass
      "widget" -> "widget")     // consonant-final loanword: untouched
    vocab.foreach { case (in, want) =>
      assert(ItTerm.stem(in) == want,
        s"stemIt($in) = ${ItTerm.stem(in)}, want $want")
    }
    // the per-token chain: elision before stop before stem
    assert(ItTerm.term("l'amico") == "amico") // len 5 < 6: unstemmed
    assert(ItTerm.term("dell'arte") == "arte") // len 4 < 6: unstemmed
    assert(ItTerm.term("nell'aria") == "aria")
    assert(ItTerm.term("un'idea") == "idea")
    assert(ItTerm.term("l'automobile") == "automobil")
    assert(ItTerm.term("gli") == TextAnalyzer.PositionGap)
    assert(ItTerm.term("più") == TextAnalyzer.PositionGap)
    assert(ItTerm.term("l'") == "l") // dangling apostrophe: no elision
    assert(ItTerm.term("'") == "")
    // driver tokenization == executor expression (apostrophes,
    // accents, uppercase elision)
    import spark.implicits._
    val texts = Seq("L'amico dei ragazzi", "nell'ARIA della città",
      "un'idea più grande", "abc", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Italian.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Italian
      .queryTokens("x " + t + " x").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    // end to end over an Italian store
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://i/1> <c://o#t> \"la ragazza piccola\" .",
      "<c://i/2> <c://o#t> \"i ragazzi piccoli\" .",
      "<c://i/3> <c://o#t> \"l'automobile rossa\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/i", qp = Some(qp), analyzer = an)))
    // inflected probe reaches both genders/numbers through the stemmer
    // (ragazzi/ragazza → ragazz, piccoli/piccola → piccol); Standard
    // only the literal
    assert(run("t.o:ragazzi piccoli", TextAnalyzer.Italian) ==
      Set("/i/1", "/i/2"))
    assert(run("t.o:ragazzi piccoli", TextAnalyzer.Standard) == Set("/i/2"))
    // the elided doc is reachable through the plural probe
    assert(run("t.o:automobili", TextAnalyzer.Italian) == Set("/i/3"))
  }

  test("portuguese analyzer: plural alternations, feminine norm, " +
      "stop gaps, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.PtTerm
    // canonical Savoy-2006 outputs: the staged plural reduction must
    // run BEFORE the accent fold (the rules see ã/ó/é), theme vowel
    // drops after, fold last
    val vocab = Seq(
      "gizmos" -> "gizm",       // -s then theme -o
      "livros" -> "livr",       // -s then theme -o
      "livro" -> "livr",        // singular and plural meet
      "bens" -> "bem",          // -ns → -m
      "papéis" -> "papel",      // -éis → -el
      "animais" -> "animal",    // -ais → -al
      "lençóis" -> "lencol",    // -óis → -ol (ç folds last)
      "barris" -> "barril",     // -is → -il
      "corações" -> "coraca",   // -ões → -ão, theme -o, fold
      "coração" -> "coraca",    // singular meets the plural
      "flores" -> "flor",       // -es after r
      "rapidamente" -> "rapid", // -mente, then theme -a
      "famosa" -> "famos",      // feminine meets masculine
      "famoso" -> "famos",
      "pequenina" -> "pequenin", // -na → -no, then theme vowel
      "casa" -> "casa",         // len 4: no theme-vowel drop (>4 gate)
      "pé" -> "pé")             // len < 4 gate: untouched, accent kept
    vocab.foreach { case (in, want) =>
      assert(PtTerm.stem(in) == want,
        s"stemPt($in) = ${PtTerm.stem(in)}, want $want")
    }
    // stop check runs on the raw folded token, accented forms included
    assert(PtTerm.term("os") == TextAnalyzer.PositionGap)
    assert(PtTerm.term("não") == TextAnalyzer.PositionGap)
    assert(PtTerm.term("também") == TextAnalyzer.PositionGap)
    assert(PtTerm.term("gizmos") == "gizm")
    // driver tokenization == executor expression (tildes, ç, case)
    import spark.implicits._
    val texts = Seq("Os GIZMOS do coração", "não há corações aqui",
      "as flores pequeninas", "abc", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Portuguese.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Portuguese
      .queryTokens("x " + t + " x").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    // end to end over a Portuguese store
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://p/1> <c://o#t> \"o livro grande\" .",
      "<c://p/2> <c://o#t> \"os livros grandes\" .",
      "<c://p/3> <c://o#t> \"um gizmo também\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/p", qp = Some(qp), analyzer = an)))
    // inflected probe reaches both numbers through the stemmer
    // (livros/livro → livr, grandes/grande → grand)
    assert(run("t.o:livros grandes", TextAnalyzer.Portuguese) ==
      Set("/p/1", "/p/2"))
    assert(run("t.o:livros grandes", TextAnalyzer.Standard) == Set("/p/2"))
    // trailing stop word trims to the single stemmed term
    assert(run("t.o:gizmo também", TextAnalyzer.Portuguese) == Set("/p/3"))
  }

  test("russian analyzer: declension endings meet at the stem, ё fold, " +
      "stop gaps, Cyrillic case fold, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.RuTerm
    // canonical light-stemmer outputs: one case-ending removal
    // (longest first, length-gated), then the -ь/-и/-нн cleanup
    val vocab = Seq(
      "журналами" -> "журнал",   // -ами (instrumental pl)
      "журналов" -> "журнал",    // -ов (genitive pl)
      "журнал" -> "журнал",      // nominative meets the obliques
      "книгами" -> "книг",       // -ами
      "книга" -> "книг",         // final declension vowel
      "ночи" -> "ноч",           // -и drops
      "ночь" -> "ноч",           // -ь drops: singular meets plural
      "странный" -> "стран",     // -ый, then the doubled-нн cleanup
      "ёлками" -> "елк",         // ё→е first, then -ами, then cleanup
      "синяя" -> "син",          // -яя (adjective fem)
      "дом" -> "дом",            // len < 4 gate: untouched
      "ring" -> "ring",          // ASCII loanword passes untouched
      "x86" -> "x86")
    vocab.foreach { case (in, want) =>
      assert(RuTerm.stem(in) == want,
        s"stemRu($in) = ${RuTerm.stem(in)}, want $want")
    }
    // stop check on the raw folded token, ё-forms included
    assert(RuTerm.term("и") == TextAnalyzer.PositionGap)
    assert(RuTerm.term("ещё") == TextAnalyzer.PositionGap)
    assert(RuTerm.term("её") == TextAnalyzer.PositionGap)
    assert(RuTerm.term("журналов") == "журнал")
    // driver tokenization == executor expression (Cyrillic case fold
    // is ALL outside ASCII — the locale-free translate discipline)
    import spark.implicits._
    val texts = Seq("И ЖУРНАЛАМИ тоже", "Ёлками и ёлками",
      "смесь abc журналов 123", "abc", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Russian.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Russian
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    // end to end over a Russian store
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://r/1> <c://o#t> \"журналами пользуюсь\" .",
      "<c://r/2> <c://o#t> \"журнал на столе\" .",
      "<c://r/3> <c://o#t> \"книгами пользуюсь\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/r", qp = Some(qp), analyzer = an)))
    // the genitive probe reaches BOTH declensions through the stemmer
    assert(run("t.o:журналов", TextAnalyzer.Russian) == Set("/r/1", "/r/2"))
    // the Standard chain treats Cyrillic as delimiters: zero tokens,
    // zero matches (the pinned pre-existing behavior)
    assert(run("t.o:журналов", TextAnalyzer.Standard).isEmpty)
    // leading stop word trims to the single stemmed term
    assert(run("t.o:и книгами", TextAnalyzer.Russian) == Set("/r/3"))
  }

  test("dutch analyzer: -heden, plural -en with doubling undo, -s, " +
      "mute -e, stop gaps, clitic apostrophes, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.NlTerm
    val vocab = Seq(
      "widgetten" -> "widget",        // -en, then tt doubling undo
      "bakken" -> "bak",              // -en + kk undo
      "boeken" -> "boek",             // -en, no doubling
      "ideeen" -> "idee",             // vowel-preceded -en (ideeën folded)
      "mogelijkheden" -> "mogelijkheid", // -heden → -heid
      "meisjes" -> "meisje",          // plural -s
      "grootste" -> "grootst",        // mute -e after consonant
      "zee" -> "zee",                 // vowel before final e: untouched
      "kas" -> "kas",                 // len < 4 gate
      "kers" -> "ker",                // -s at the gate boundary
      "widget" -> "widget")           // consonant-final: untouched
    vocab.foreach { case (in, want) =>
      assert(NlTerm.stem(in) == want,
        s"stemNl($in) = ${NlTerm.stem(in)}, want $want")
    }
    assert(NlTerm.term("de") == TextAnalyzer.PositionGap)
    assert(NlTerm.term("het") == TextAnalyzer.PositionGap)
    assert(NlTerm.term("widgetten") == "widget")
    import spark.implicits._
    // clitic apostrophes tokenize APART (no elision stage): auto's →
    // auto + s; trema folds identically on both sides
    val texts = Seq("De WIDGETTEN zijn er", "auto's en ideeën",
      "abc 123 één", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Dutch.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Dutch
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://nl/1> <c://o#t> \"rode widget hier\" .",
      "<c://nl/2> <c://o#t> \"widgetten overal\" .",
      "<c://nl/3> <c://o#t> \"blauwe bout\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/nl", qp = Some(qp), analyzer = an)))
    // singular probe reaches the inflected plural through the stemmer
    assert(run("t.o:de widget", TextAnalyzer.Dutch) == Set("/nl/1", "/nl/2"))
    // Standard sees "widgetten" verbatim — the plural doc only
    assert(run("t.o:widgetten", TextAnalyzer.Standard) == Set("/nl/2"))
  }

  test("swedish analyzer: definite-plural strip, gated short endings, " +
      "genitive -s, stop gaps, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.SvTerm
    val vocab = Seq(
      "widgetarna" -> "widget",   // definite plural -arna
      "flickorna" -> "flick",     // -orna
      "widgetarnas" -> "widget",  // outer genitive s, then -arna
      "bilarna" -> "bil",         // -arna at the stem≥3 gate
      "widget" -> "widget",       // -et blocked by the stem≥5 gate
      "gear" -> "gear",           // -ar blocked by the gate
      "gizmo" -> "gizmo",         // no Swedish ending
      "husen" -> "husen",         // -en gated (stem 3 < 5)
      "maskiner" -> "maskin",     // -er past the gate
      "glas" -> "glas",           // len<5: genitive strip gated
      "pass" -> "pass")           // -ss: never strip after s
    vocab.foreach { case (in, want) =>
      assert(SvTerm.stem(in) == want,
        s"stemSv($in) = ${SvTerm.stem(in)}, want $want")
    }
    assert(SvTerm.term("de") == TextAnalyzer.PositionGap)
    assert(SvTerm.term("och") == TextAnalyzer.PositionGap)
    assert(SvTerm.term("widgetarna") == "widget")
    import spark.implicits._
    val texts = Seq("De WIDGETARNA är här", "flickorna och bilarna",
      "åäö ÅÄÖ abc 123", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Swedish.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Swedish
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://sv/1> <c://o#t> \"en widget finns\" .",
      "<c://sv/2> <c://o#t> \"widgetarna finns\" .",
      "<c://sv/3> <c://o#t> \"bilarna finns\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/sv", qp = Some(qp), analyzer = an)))
    // the definite plural and the bare loanword meet at the stem
    assert(run("t.o:de widget", TextAnalyzer.Swedish) ==
      Set("/sv/1", "/sv/2"))
    assert(run("t.o:widgetarna", TextAnalyzer.Standard) == Set("/sv/2"))
  }

  test("danish analyzer: -erne/-ene strip with consonant undouble, " +
      "gated short endings, stop gaps, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.DaTerm
    val vocab = Seq(
      "widgetterne" -> "widget",  // -erne + tt undouble
      "bilerne" -> "bil",         // -erne, no doubling
      "husene" -> "hus",          // -ene
      "widgetternes" -> "widget", // outer genitive s first
      "widget" -> "widget",       // -et blocked by the stem≥5 gate
      "plade" -> "plade",         // mute -e gated (stem 4 < 5)
      "maskiner" -> "maskin",     // -er past the gate
      "glas" -> "glas",           // len<5: genitive strip gated
      "pas" -> "pas")             // short token untouched
    vocab.foreach { case (in, want) =>
      assert(DaTerm.stem(in) == want,
        s"stemDa($in) = ${DaTerm.stem(in)}, want $want")
    }
    assert(DaTerm.term("de") == TextAnalyzer.PositionGap)
    assert(DaTerm.term("og") == TextAnalyzer.PositionGap)
    assert(DaTerm.term("widgetterne") == "widget")
    import spark.implicits._
    val texts = Seq("De WIDGETTERNE er her", "bilerne og husene",
      "åæø ÅÆØ abc 123", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Danish.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Danish
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://da/1> <c://o#t> \"en widget findes\" .",
      "<c://da/2> <c://o#t> \"widgetterne findes\" .",
      "<c://da/3> <c://o#t> \"bilerne findes\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/da", qp = Some(qp), analyzer = an)))
    // the undoubled definite plural and the bare loanword meet
    assert(run("t.o:de widget", TextAnalyzer.Danish) ==
      Set("/da/1", "/da/2"))
    assert(run("t.o:widgetterne", TextAnalyzer.Standard) == Set("/da/2"))
  }

  test("arabic analyzer: normalization fold, article/suffix strip, " +
      "stop gaps, RTL end-to-end, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.ArTerm
    val vocab = Seq(
      "المعلمون" -> "معلم",   // ال article + ون suffix
      "المعلمين" -> "معلم",   // ال + ين: declensions meet at the stem
      "والمعلمون" -> "معلم",  // و conjunction + ال + ون
      "الكاتب" -> "كاتب",     // article only, no suffix
      "مكتبه" -> "مكتب",      // teh-marbuta (folded to ه) suffix
      "كتابها" -> "كتاب",     // -ها possessive
      "لل" -> "لل",            // gate: nothing may strip below 2 chars
      "widget" -> "widget",    // ASCII passthrough
      "وال" -> "وال")          // affix-only token survives the gates
    vocab.foreach { case (in, want) =>
      assert(ArTerm.stem(in) == want,
        s"stemAr($in) = ${ArTerm.stem(in)}, want $want")
    }
    // stop check on NORMALIZED spellings — إلى folds to الي first
    assert(ArTerm.term("من") == TextAnalyzer.PositionGap)
    assert(ArTerm.term("الي") == TextAnalyzer.PositionGap)
    assert(TextAnalyzer.Arabic.queryTokens("إلى المعلمين") == Seq("معلم"))
    // harakat/tatweel delete, hamza-alef and maksura fold — both sides
    import spark.implicits._
    val texts = Seq("مِنَ المُعَلِّمِينَ", "والكتاب إلى المكتبة",
      "ـــ تمديد ـــ", "abc المعلمون 123", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Arabic.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Arabic
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://ar/1> <c://o#t> \"المعلمون هنا\" .",
      "<c://ar/2> <c://o#t> \"معلم واحد\" .",
      "<c://ar/3> <c://o#t> \"الكاتب هناك\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/ar", qp = Some(qp), analyzer = an)))
    // the genitive probe reaches BOTH the plural and the bare stem
    assert(run("t.o:المعلمين", TextAnalyzer.Arabic) == Set("/ar/1", "/ar/2"))
    // Standard treats Arabic letters as delimiters: zero tokens
    assert(run("t.o:المعلمين", TextAnalyzer.Standard).isEmpty)
    // leading stop word trims to the single stemmed term
    assert(run("t.o:من الكاتب", TextAnalyzer.Arabic) == Set("/ar/3"))
  }

  test("turkish analyzer: dotted/dotless-i fold, apostrophe cut, " +
      "vowel-harmony stem, driver/executor drift") {
    import graft.qp.TextAnalyzer
    import graft.functions.TrTerm
    val vocab = Seq(
      "kitaplardan" -> "kitap",  // ablative + plural
      "kitapların" -> "kitap",   // genitive-on-plural (ların one shot)
      "kitapları" -> "kitap",    // accusative plural
      "evlerden" -> "ev",        // harmony e-variant, 2-char root
      "evleri" -> "ev",          // post-plural possessive pass
      "kıtaplardan" -> "kıtap",  // dotless ı rides through the stem
      "ev" -> "ev",              // bare short root untouched
      "widget" -> "widget",      // ASCII loanword: no harmony suffix
      "masa" -> "masa")          // single-vowel gate: len 4 keeps -a
    vocab.foreach { case (in, want) =>
      assert(TrTerm.stem(in) == want,
        s"stemTr($in) = ${TrTerm.stem(in)}, want $want")
    }
    // apostrophe cut BEFORE stop/stem (Lucene ApostropheFilter)
    assert(TrTerm.term("istanbul'daki") == "istanbul")
    // the light stemmer also strips the root's final vowel (the
    // dative/accusative class) — an over-stem, but IDENTICAL on both
    // sides (a probe "türkiye" lands on the same term), so matching
    // holds; the standard light-stemmer recall/precision trade
    assert(TrTerm.term("türkiye'nin") == "türkiy")
    assert(TrTerm.term("ve") == TextAnalyzer.PositionGap)
    // THE locale trap, both directions: İ→i (probe İSTANBUL reaches
    // lowercase istanbul) and I→ı (KITAP folds to kıtap, NOT kitap)
    assert(TextAnalyzer.Turkish.queryTokens("İSTANBUL") == Seq("istanbul"))
    assert(TextAnalyzer.Turkish.queryTokens("KITAP") == Seq("kıtap"))
    assert(TextAnalyzer.Turkish.queryTokens("KİTAP") == Seq("kitap"))
    import spark.implicits._
    val texts = Seq("İstanbul'daki kitaplardan", "ANKARA'DAKİ EVLERDEN",
      "ve IĞDIR ılık", "abc 123 çağrışım", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Turkish.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Turkish
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://tr/1> <c://o#t> \"İstanbul'daki kitaplardan\" .",
      "<c://tr/2> <c://o#t> \"kitapları burada\" .",
      "<c://tr/3> <c://o#t> \"Ankara'daki evlerden\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/tr", qp = Some(qp), analyzer = an)))
    // the genitive probe reaches ablative and accusative inflections
    assert(run("t.o:kitapların", TextAnalyzer.Turkish) ==
      Set("/tr/1", "/tr/2"))
    // all-caps probe folds İ→i and matches through the apostrophe cut
    assert(run("t.o:İSTANBUL", TextAnalyzer.Turkish) == Set("/tr/1"))
    // Standard keeps the inflection verbatim: no match anywhere
    assert(run("t.o:kitapların", TextAnalyzer.Standard).isEmpty)
  }

  test("persian analyzer: kaf/yeh normalization, ZWNJ compound split, " +
      "clitic stop gaps, no stemmer, driver/executor drift") {
    import graft.qp.TextAnalyzer
    // fold: Arabic kaf ك → keheh ک, Arabic yeh ي → Farsi yeh ی,
    // ZWNJ splits the compound, های drops as a clitic stop
    assert(TextAnalyzer.Persian.queryTokens("كتاب\u200cهاي") == Seq("کتاب"))
    // آن normalizes (آ→ا) into the stop set
    assert(TextAnalyzer.Persian.queryTokens("آن کتاب") == Seq("کتاب"))
    // NO stemmer: an inflection-free chain keeps the word whole
    assert(TextAnalyzer.Persian.queryTokens("پژوهشگاه") == Seq("پژوهشگاه"))
    import spark.implicits._
    val texts = Seq("كتاب\u200cهاي خوب", "از کتاب", "می\u200cروم آنجا",
      "abc دفترهاي 123", "")
    val sparkToks = texts.toDF("s")
      .select(TextAnalyzer.Persian.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = texts.map(t => TextAnalyzer.Persian
      .queryTokens("zq " + t + " zq").drop(1).dropRight(1))
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://fa/1> <c://o#t> \"كتاب\u200cهاي خوب\" .",
      "<c://fa/2> <c://o#t> \"کتاب تازه\" .",
      "<c://fa/3> <c://o#t> \"دفترهاي خوب\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/fa", qp = Some(qp), analyzer = an)))
    // Farsi-keheh probe reaches the Arabic-kaf compound through the
    // fold + ZWNJ split + clitic gap; the unsplit دفترهای does not
    assert(run("t.o:از کتاب", TextAnalyzer.Persian) ==
      Set("/fa/1", "/fa/2"))
    // Standard: Arabic-block letters are delimiters — zero tokens
    assert(run("t.o:کتاب", TextAnalyzer.Standard).isEmpty)
  }

  test("overlap join: bucketed equi-join equals the naive cross form " +
      "at any bucket width, exactly one row per qualifying pair") {
    import spark.implicits._
    // multi-bucket spans, touching endpoints (closed intervals),
    // disjoint tails — at widths smaller than, comparable to and
    // larger than every interval
    val a = Seq((1L, 0L, 100L), (2L, 50L, 60L), (3L, 200L, 210L),
      (4L, 95L, 305L)).toDF("aid", "sa", "ea")
    val b = Seq((10L, 90L, 110L), (11L, 210L, 400L), (12L, 500L, 600L),
      (13L, 100L, 100L)).toDF("bid", "sb", "eb")
    val want = a.crossJoin(b)
      .where(col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (w <- Seq(7L, 100L, 1000L)) {
      val got = graft.pipeline.Sessions.overlapJoin(
          a, b, "sa", "ea", "sb", "eb", w)
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == want, s"w=$w: ${got.sorted} vs $want")
      assert(got.size == got.distinct.size,
        s"w=$w emitted duplicates: $got")
    }
  }

  test("per-row text/PII/script operators plan with ZERO exchanges") {
    // the 100 TB contract for the per-row family: normalization,
    // script profiling and checksum-gated redaction are scan-side
    // projections — no shuffle beyond the ONE deliberate compute
    // spread on an under-split scan (computeParallel: a compute-dense
    // corpus packs into one split, serializing the per-row work), and
    // ZERO exchanges added when the input is already spread (the
    // many-split 100 TB shape, stood in for by a pre-repartitioned
    // input the plan-shape gate recognizes).
    import graft.pipeline.{Curation, TextAnalysis}
    val d = spark.read.parquet(s"$Sf/documents.parquet")
    val spread = d.repartition(spark.sparkContext.defaultParallelism)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def exchanges(plan: String): Int = "Exchange".r.findAllIn(plan).length
    for ((name, op) <- Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "normalizeText" -> (Curation.normalizeText(_)),
        "scriptProfile" -> (TextAnalysis.scriptProfile(_)),
        "redactCards" -> (Curation.redactCards(_)))) {
      // single-split scan: at most the one deliberate roundrobin spread
      val scanPlan = plan(op(d))
      val scanEx = exchanges(scanPlan)
      assert(scanEx <= 1, s"$name shuffles beyond the spread: " +
        s"${scanPlan.take(600)}")
      if (scanEx == 1)
        assert(scanPlan.contains("RoundRobinPartitioning"),
          s"$name: the single exchange is not the compute spread: " +
            s"${scanPlan.take(600)}")
      // already-spread input: the operator itself adds NOTHING
      val spreadPlan = plan(op(spread))
      assert(exchanges(spreadPlan) == exchanges(plan(spread)),
        s"$name adds an exchange to a spread input: " +
          s"${spreadPlan.take(600)}")
    }
  }

  test("cjk analyzer: bigram phrase match sees CJK text; standard cannot") {
    import graft.qp.TextAnalyzer
    graft.qp.Namespaces.register("o", "c://o#")
    val store = storeOf(Seq(
      "<c://doc/1> <c://o#title> \"机器学习系统\" .",
      "<c://doc/2> <c://o#title> \"学习机器\" .",
      "<c://doc/3> <c://o#title> \"hello 机器 world\" ."),
      T("2024-01-01 00:00:00"))
    def run(qp: String, an: TextAnalyzer) = paths(Search.run(store,
      Search.Request(path = "/doc", qp = Some(qp), analyzer = an)))
    // the pinned pre-existing behavior: the ASCII chains treat CJK as
    // delimiters — zero tokens, zero matches
    assert(run("title.o:机器", TextAnalyzer.Standard).isEmpty)
    // one bigram: containment — hits every doc with 机 followed by 器
    assert(run("title.o:机器", TextAnalyzer.Cjk) ==
      Set("/doc/1", "/doc/2", "/doc/3"))
    // consecutive-bigram phrase: only the doc with the full run
    assert(run("title.o:机器学习", TextAnalyzer.Cjk) == Set("/doc/1"))
    // reordered chars form different bigrams — no match
    assert(run("title.o:习学", TextAnalyzer.Cjk).isEmpty)
    // a lone CJK char is its own token... but phrase-joins with the
    // surrounding bigram stream, so it only matches a RUN of one
    assert(run("title.o:hello world", TextAnalyzer.Cjk).isEmpty &&
      run("title.o:hello", TextAnalyzer.Cjk) == Set("/doc/3"))
    // driver and executor tokenization agree (the mirror contract)
    import spark.implicits._
    val docs = Seq("机器学习", "a学 b器", "hello 机 world", "abc", "",
      "学x学y学").toDF("s")
    val sparkToks = docs.select(TextAnalyzer.Cjk.tokensOf(col("s")))
      .as[Seq[String]].collect().toSeq
    val driverToks = Seq("机器学习", "a学 b器", "hello 机 world", "abc", "",
      "学x学y学").map(TextAnalyzer.Cjk.queryTokens)
    assert(sparkToks == driverToks, s"$sparkToks vs $driverToks")
  }

  test("gremlin comparators lt/lte/gt/gte/neq/hasNot route through the qp compiler") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    def ids(q: String) = Gremlin.eval(store, q).collect()
      .map(_.getString(0)).toSet
    val all = ids("""g.V.has("acctbal").id""")
    val lt = ids("""g.V.has("acctbal", "lt", "500").id""")
    val gte = ids("""g.V.has("acctbal", "gte", "500").id""")
    val lte = ids("""g.V.has("acctbal", "lte", "500").id""")
    val gt = ids("""g.V.has("acctbal", "gt", "500").id""")
    assert(lt.nonEmpty && gte.nonEmpty)
    assert((lt intersect gte).isEmpty && (lt union gte) == all)
    assert((lte intersect gt).isEmpty && (lte union gt) == all)
    assert(lt.subsetOf(lte) && gt.subsetOf(gte))
    // neq requires EXISTENCE: the complement of eq within the
    // property carriers, never the store-wide complement (directories
    // must not leak in)
    val seg = ids("""g.V.has("mktsegment").id""")
    val eq = ids("""g.V.has("mktsegment", "BUILDING").id""")
    val neq = ids("""g.V.has("mktsegment", "neq", "BUILDING").id""")
    assert(eq.nonEmpty && neq.nonEmpty)
    assert((neq intersect eq).isEmpty && (neq union eq) == seg)
    // hasNot is the store-wide complement of existence
    val hasNot = ids("""g.V.hasNot("mktsegment").id""")
    assert((hasNot intersect seg).isEmpty &&
      (hasNot union seg) == ids("g.V.id"))
    // limit takes the first n in deterministic id order; dedup is
    // idempotent on the already-distinct frontier
    val limited = ids("""g.V.has("mktsegment").limit(5).id""")
    assert(limited == seg.toSeq.sorted.take(5).toSet)
    assert(ids("""g.V.has("mktsegment").dedup().limit(5).id""") == limited)
    // unquoted numeric comparands (natural Gremlin) equal quoted ones
    assert(ids("""g.V.has("acctbal", "gt", 9000).id""") ==
      ids("""g.V.has("acctbal", "gt", "9000").id"""))
    // malformed args fail loud, never silently drop
    intercept[IllegalArgumentException](
      Gremlin.eval(store, """g.V.limit(5x).id"""))
    intercept[IllegalArgumentException](
      Gremlin.eval(store, """g.V.has("a",).id"""))
    intercept[IllegalArgumentException](
      Gremlin.eval(store, """g.V.limit(99999999999).id"""))
    // QUOTED numerics hit the same guards: an 11-digit or empty quoted
    // arg is the loud syntax error, not a NumberFormatException
    intercept[IllegalArgumentException](
      Gremlin.eval(store, """g.V.limit("99999999999").id"""))
    intercept[IllegalArgumentException](
      Gremlin.eval(store, """g.V.limit("").id"""))
  }

  test("quads is current-only by contract; history consumers opt into quadsHistory") {
    val store = GraftStore.forDir(spark, Sf)
    // the pinned contract: filtering the default quad view on
    // current=false silently sees NOTHING — that is exactly why the
    // history view is a separate, explicit opt-in
    assert(store.quads.where(!col("current")).count() == 0)
    val histOnly = store.quadsHistory.where(!col("current"))
    assert(histOnly.count() > 0, "store has history; old versions must surface")
    assert(store.quadsHistory.count() > store.quads.count())
    // a multi-versioned subject carries BOTH versions' values in the
    // history view, only the current one in the default view
    val p = histOnly.select("subject").head().getString(0)
    val hCnt = store.quadsHistory.where(col("subject") === p).count()
    val cCnt = store.quads.where(col("subject") === p).count()
    assert(hCnt > cCnt)
    // tombstones carry no fields: a delete is the absence of later
    // rows, never a row of kind deleted
    assert(store.quadsHistory
      .where(col("kind") === InfotonModel.KindDeleted).count() == 0)
  }

  // ---- admin surface ----

  test("purge removes versions physically; purge-history keeps current") {
    val store = GraftStore.forDir(spark, Sf)
    val somePath = Search.run(store, Search.Request(path = "/user"))
      .select("system.path").head().getString(0)
    val purged = graft.ops.Admin.purgePath(store.infotons, somePath)
    assert(purged.where(col("system.path") === somePath).count() == 0)
    val trimmed = graft.ops.Admin.purgeHistory(store.infotons, somePath)
    val left = trimmed.where(col("system.path") === somePath)
    assert(left.count() >= 1 &&
      left.where(!col("system.current")).count() == 0)
  }

  test("debug-info exposes the physical plan with pushed filters") {
    val plan = graft.ops.Admin.debugInfo(
      spark.read.parquet(s"$Sf/lineitem.parquet")
        .where(col("l_quantity") > 45).select("l_orderkey"))
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"))
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"))
  }

  test("/proc virtual infotons expose live store statistics") {
    val store = GraftStore.forDir(spark, Sf)
    val proc = graft.ops.Admin.proc(store)
    val users = proc.where(col("system.path") === "/proc/dir/user")
    assert(users.count() == 1)
    val versions = users.select(Search.fieldN("versions")).head().getDouble(0)
    val expected = Search.run(store,
      Search.Request(path = "/user", withHistory = true)).count()
    assert(versions == expected.toDouble)
    assert(proc.select("system.kind").distinct().head().getString(0) ==
      "VirtualInfoton")
  }

  test("tracking report counts written versions per parent") {
    import spark.implicits._
    val before = Ingest.ingest(spark, Ingest.emptyStore(spark),
      Seq("<c://t/1> <c://o#a> \"x\" .").toDS(), T("2024-01-01 00:00:00"))
    val after = Ingest.ingest(spark, before, Seq(
      "<c://t/1> <c://o#a> \"y\" .",
      "<c://t/2> <c://o#a> \"z\" .").toDS(), T("2024-01-02 00:00:00"))
    val report = graft.ops.Admin.trackingReport(before, after)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report == Map("/t" -> 2L))
  }

  test("frame sampling yields one frame per stride block") {
    val content = Multimodal.contentStore(docs.limit(5))
    val frames = Multimodal.frameSample(content, stride = 2)
    assert(frames.count() >= 5)
    assert(frames.columns.toSeq == Seq("path", "frame_no", "frame"))
  }

  test("curation: quota sampling, PII redaction, decontamination") {
    import spark.implicits._
    import graft.pipeline.Curation
    // quota: uneven sources capped at 2; selection is deterministic
    val d = (1L to 10L)
      .map(i => (i, if (i <= 6) "a" else if (i <= 9) "b" else "c", s"doc $i"))
      .toDF("doc_id", "source", "text")
    val q = Curation.quotaSample(d, "source", 2)
    val bySrc = q.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    assert(q.select("doc_id").collect().toSeq ==
      Curation.quotaSample(d, "source", 2).select("doc_id").collect().toSeq)
    // redaction replaces each pattern and counts on the original text
    val pii = Seq((1L, "mail a.b@x.org call 123-456-7890 ip 10.1.2.3 ok"))
      .toDF("doc_id", "text")
    val r = Curation.redact(pii).head()
    assert(r.getString(1) == "mail [EMAIL] call [PHONE] ip [IPV4] ok")
    assert(r.getInt(2) == 1 && r.getInt(3) == 1 && r.getInt(4) == 1)
    // decontamination: sharing one 8-gram with the benchmark flags the
    // doc (and the benchmark doc itself); disjoint docs stay clean
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val corpus = Seq((1L, s"$eight tail one"), (2L, s"head $eight"),
      (3L, "a b c d e f g h")).toDF("doc_id", "text")
    val flagged = Curation
      .contaminated(corpus, corpus.where($"doc_id" === 1), 8)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 2L))
  }

  test("repetition signals: dup-line and top/dup n-gram fractions") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val d = Seq(
      (1L, "aa bb\naa bb\ncc"), // duplicated line
      (2L, "x y x y z"),        // repeated 2-gram, single line
      (3L, "solo"))             // degenerate: no 2-grams at all
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).orderBy("doc_id").collect()
    val eps = 1e-12
    // doc 1: lines [aa bb, aa bb, cc] → n=3, distinct 2; dup chars 10/12
    assert(r(0).getInt(1) == 3)
    assert(math.abs(r(0).getDouble(2) - (1.0 - 2.0 / 3)) < eps)
    assert(math.abs(r(0).getDouble(3) - 10.0 / 12) < eps)
    // doc 1 top-2-gram: "aa bb" ×2, word-char mass 2*4 of 10 chars
    assert(math.abs(r(0).getDouble(4) - 8.0 / 10) < eps)
    // doc 2: grams [x y, y x, x y, y z] → top "x y" mass 4 of 5 chars;
    // duplicated mass 4 of total gram mass 8
    assert(math.abs(r(1).getDouble(4) - 4.0 / 5) < eps)
    assert(math.abs(r(1).getDouble(7) - 0.5) < eps)
    // doc 3: single line, no grams — all fractions 0, nothing NaN
    assert(r(2).getInt(1) == 1 && r(2).getDouble(4) == 0.0 &&
      r(2).getDouble(7) == 0.0)
  }

  test("hash split reproduces JDK md5 buckets and is corpus-stable") {
    import spark.implicits._
    import graft.pipeline.Curation
    val got = Curation.hashSplit((0L until 64L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    (0L until 64L).foreach { id =>
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = Integer.parseInt(hex.take(2), 16)
      val split = if (b < 246) "train" else if (b < 251) "val" else "test"
      assert(got(id) == (b, split), s"id $id")
    }
    // a doc's assignment is independent of what else is in the corpus
    val sub = Curation.hashSplit(Seq(7L, 63L).toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(sub == got.view.filterKeys(Set(7L, 63L)).toMap)
  }

  test("SPARQL date/time accessors slice dateTime lexicals") {
    val store = storeOf(Seq(
      "<c://e/1> <c://o#at> \"2024-03-01T10:30:05.250+05:30\" .",
      "<c://e/2> <c://o#at> \"1999-12-31T23:59:59Z\" .",
      "<c://e/3> <c://o#at> \"2020-06-15T08:00:00-08:00\" .",
      "<c://e/4> <c://o#at> \"not a date\" ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?s ?y ?mo ?d ?h ?mi ?sec ?tz ?dur WHERE {
        |  ?s <c://o#at> ?w .
        |  BIND(YEAR(?w) AS ?y) BIND(MONTH(?w) AS ?mo)
        |  BIND(DAY(?w) AS ?d) BIND(HOURS(?w) AS ?h)
        |  BIND(MINUTES(?w) AS ?mi) BIND(SECONDS(?w) AS ?sec)
        |  BIND(TZ(?w) AS ?tz) BIND(TIMEZONE(?w) AS ?dur)
        |} ORDER BY ?s""".stripMargin).collect()
      .map(row => row.getString(0) ->
        (1 to 8).map(i => Option(row.getString(i)).orNull)).toMap
    // full positive-offset form; SECONDS keeps the decimal fraction
    assert(r("/e/1") == Seq(
      "2024", "3", "1", "10", "30", "5.25", "+05:30", "PT5H30M"))
    // Z designator → PT0S duration
    assert(r("/e/2") == Seq(
      "1999", "12", "31", "23", "59", "59", "Z", "PT0S"))
    // negative offset → negative canonical duration, zero minutes omitted
    assert(r("/e/3")(7) == "-PT8H" && r("/e/3")(6) == "-08:00")
    // a non-dateTime lexical is a type error → every accessor unbound
    // (TZ's "" is its defined no-designator value, not an error)
    assert(r("/e/4") == Seq(null, null, null, null, null, null, "", null))
  }

  test("mixture resampling keeps md5-uniform docs below the key rate") {
    import spark.implicits._
    import graft.pipeline.Curation
    val d = (0L until 200L).map(i => (i, if (i < 100) "keep" else "half"))
      .toDF("doc_id", "source")
    val kept = Curation.mixtureSample(d, "source", Map("half" -> 0.5))
      .collect().map(_.getLong(0)).toSet
    // ground truth from JDK md5: u(id) = first 4 hex chars / 65536
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      val hex = md.digest(s"mix:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16) / 65536.0
    }
    val expect = (0L until 200L).filter(i =>
      if (i < 100) true else u(i) < 0.5).toSet
    assert(kept == expect)
    // unkeyed source keeps everything; rate ~0.5 keeps roughly half
    assert((100L until 200L).count(kept) > 25 &&
      (100L until 200L).count(kept) < 75)
    // stable under corpus growth: the kept set is per-doc
    val sub = Curation.mixtureSample(d.where($"doc_id" >= 150),
      "source", Map("half" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(sub == expect.filter(_ >= 150))
  }

  test("chunking cuts token streams into strided windows") {
    import spark.implicits._
    import graft.pipeline.Curation
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val c = Curation.chunkDocs(d, window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc1: starts 0,3,6,9 → windows of 4 tokens (last truncated)
    assert(c.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 4, "t1 t2 t3 t4"), (1L, 1, 4, "t4 t5 t6 t7"),
      (1L, 2, 4, "t7 t8 t9 t10"), (1L, 3, 1, "t10")))
    // doc2 fits one window; empty doc3 yields no chunks
    assert(c.filter(_._1 == 2L).toSeq == Seq((2L, 0, 2, "a b")))
    assert(!c.exists(_._1 == 3L))
  }

  test("bm25 matches the hand-computed formula and ranks by score") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val d = Seq(
      (1L, "cat cat cat dog"), // tf(cat)=3, short doc
      (2L, "cat mouse mouse mouse mouse mouse mouse mouse"),
      (3L, "dog mouse bird fish"),
      (4L, "bird fish worm"))  // no query terms → score 0
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25(d, Seq("cat", "dog"), k = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (k1, b) = (1.2, 0.75)
    val (n, avgdl) = (4.0, (4.0 + 8.0 + 4.0 + 3.0) / 4)
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Double, df: Double, dl: Double) =
      idf(df) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(term(3, 2, 4) + term(1, 2, 4)))
    assert(got(2L) == r6(term(1, 2, 8)))
    assert(got(3L) == r6(term(1, 2, 4)))
    assert(got(4L) == 0.0)
    // the high-tf short doc outranks everything
    assert(got(1L) > got(2L) && got(1L) > got(3L) && got(3L) > got(2L))
  }

  test("SQ8 quantization stores bytes and bounds reconstruction error") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val (coded, ranges) = Similarity.sq8Quantize(e)
    assert(coded.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    // per-dimension reconstruction error is at most half a
    // quantization step (affine rounding)
    val recon = coded.select(col("vec_id"),
        Similarity.sq8Dequantize(col("codes"), ranges).as("r"))
      .join(e.select(col("vec_id"), col("embedding").as("o")), "vec_id")
    val maxErr = recon.select(max(aggregate(
        zip_with(col("r"), col("o"), (a, b) => abs(a - b.cast("double"))),
        lit(0.0), (acc, x) => greatest(acc, x)))).head().getDouble(0)
    val maxHalfStep = ranges.map { case (l, h) => (h - l) / 255.0 / 2 }.max
    assert(maxErr <= maxHalfStep + 1e-9,
      s"max reconstruction error $maxErr exceeds half-step $maxHalfStep")
  }

  test("incremental exact dedup joins only the corpus digest index") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha"),  // already in corpus → dropped
      (11L, "gamma"), (12L, "gamma"), // batch-internal dup → keep 11
      (13L, "delta")).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(Dedup.digestIndex(corpus), incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))
  }

  test("bloom incremental dedup equals the join-based answer, incl. " +
      "empty corpus") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val d = spark.read.parquet(s"$Sf/documents.parquet")
    val idx = Dedup.digestIndex(d.where(col("doc_id") < 250))
    val batch = d.where(col("doc_id") >= 250)
    val viaBloom = Dedup.bloomIncremental(idx, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaJoin = Dedup.incrementalExact(idx, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == viaJoin)
    // empty corpus index → every batch doc is definitely-new (the
    // aggregate yields a null sketch; nothing may be dropped)
    val none = Dedup.digestIndex(d.where(lit(false)))
    val all = Dedup.bloomIncremental(none, Seq((1L, "a"), (2L, "b"), (3L, "a"))
        .toDF("doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L)) // 3 is a batch-internal dup of 1
  }

  test("paragraph dedup keeps the first occurrence corpus-wide and " +
      "reassembles in line order") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val docs = Seq(
      (1L, "shared line\nunique one\nshared line"), // self-dup too
      (2L, "unique two\nshared line\nunique three"),
      (3L, "shared line")) // fully deduplicated away
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((3, 2, "shared line\nunique one")))
    assert(got(2L) == ((3, 2, "unique two\nunique three")))
    assert(got(3L) == ((1, 0, "")))
  }

  test("substring span removal cuts later duplicate windows, keeps " +
      "the first in corpus order") {
    import spark.implicits._
    import graft.pipeline.Dedup
    // n=3 windows; doc 2 repeats doc 1's "a b c d" (two 3-gram
    // windows: "a b c", "b c d" → positions 0..3 covered); doc 3 is
    // shorter than n and must pass through untouched
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "p q a b c d r"),
      (3L, "a b")).toDF("doc_id", "text")
    val got = Dedup.substringSpanRemoval(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((7, 7, "a b c d x y z"))) // first occurrence kept
    assert(got(2L) == ((7, 3, "p q r")))         // span 2..5 removed
    assert(got(3L) == ((2, 2, "a b")))           // shorter than n
  }

  test("bigram lm scores repetitive bigrams above novel ones; " +
      "sub-2-token docs absent") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "x y x y x y"),      // "x y" has corpus count 3 → high prob
      (2L, "p q r s t u"),      // all bigrams unique
      (3L, "solo")).toDF("doc_id", "text") // no bigram → absent
    val got = TextAnalysis.lmScoreBigram(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) > got(2L))
  }

  test("naive bayes classifies by seed-class vocabulary with a " +
      "positive margin") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val seed = Seq(
      ("good", "apple banana cherry apple"),
      ("good", "banana cherry fruit"),
      ("bad", "stone metal rust"),
      ("bad", "rust metal dust")).toDF("label", "text")
    val docs = Seq(
      (1L, "apple banana snack"),
      (2L, "dust rust bucket"),
      (3L, "apple metal")).toDF("doc_id", "text") // mixed → tie-ish
    val got = TextAnalysis.nbClassify(docs, seed).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
      .sortBy(_._1)
    assert(got.map(g => g._1 -> g._2) ==
      List(1L -> "good", 2L -> "bad", 3L -> "bad"))
    assert(got.forall(_._3 >= 0.0)) // margin = top minus runner-up
  }

  test("asof join: latest at-or-before match per key, nulls when no " +
      "prior right row") {
    import spark.implicits._
    import graft.pipeline.Sessions
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // ms precision fine
    val left = Seq((100L, 1L, ts(5000000L)), // u1 @5s
      (101L, 1L, ts(1000000L)),              // u1 @1s — before any view
      (102L, 2L, ts(3000000L)))              // u2 @3s — equal-ts view
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 1L, ts(2000000L), 1.0),
      (11L, 1L, ts(4000000L), 2.0),          // latest before @5s
      (12L, 2L, ts(3000000L), 3.0))          // equal ts → inclusive
      .toDF("event_id", "user_id", "ts", "value")
    val got = Sessions.asofJoin(left, right, payloadCols = Seq("event_id", "value"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got(100L) == ((Some(11L), Some(2.0))))
    assert(got(101L) == ((None, None)))
    assert(got(102L) == ((Some(12L), Some(3.0))))
  }

  test("range count honors the half-open window across bucket seams") {
    import spark.implicits._
    import graft.pipeline.Sessions
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 1 // minute → 60_000_000 us buckets
    val left = Seq((100L, 1L, ts(50000000L))) // u1 @50s: window [50s, 110s)
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 1L, ts(50000000L)),   // at left ts → counts (inclusive start)
      (11L, 1L, ts(100000000L)),  // 100s, NEXT bucket but inside window
      (12L, 1L, ts(110000000L)),  // exactly ts+h → excluded (half-open)
      (13L, 1L, ts(40000000L)),   // before → excluded
      (14L, 2L, ts(60000000L)))   // other user → excluded
      .toDF("event_id", "user_id", "ts")
    val got = Sessions.rangeCount(left, right, horizonMinutes = h)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(100L -> 2L))
  }

  test("tfidf keywords rank rare terms above common ones") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "apple apple banana common common"),
      (2L, "cherry common"),
      (3L, "banana common common")).toDF("doc_id", "text")
    val top1 = TextAnalysis.tfidfKeywords(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: apple (tf 2 · idf 1.69) beats common (tf 2 · idf 1.0);
    // doc 2: cherry (df 1) beats common; doc 3: common's tf 2 · idf 1.0
    // = 2.0 still beats banana's 1 · 1.288 — frequency can outweigh
    // rarity, which is exactly tf-idf's contract
    assert(top1 == Map(1L -> "apple", 2L -> "cherry", 3L -> "common"))
  }

  test("lloyd kmeans: tie-break to lowest cluster, empty cluster keeps " +
      "its centroid, obvious groups separate") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // seeds: vec 0 (group A), vec 1 (group B), vec 2 — IDENTICAL to
    // vec 0, so iteration 1 ties every A point between clusters 0 and
    // 2 (→ 0, the lower id) and empties cluster 2, which must keep its
    // initial centroid; iteration 2 then pulls the two points sitting
    // exactly at that kept centroid back into cluster 2
    val e = Seq(
      (0L, Array(0.0f, 0.1f)), (1L, Array(10.0f, 10.1f)),
      (2L, Array(0.0f, 0.1f)), (3L, Array(9.8f, 10.0f)),
      (4L, Array(0.1f, 0.0f)), (5L, Array(10.2f, 9.9f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeans(e, k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == Map(0L -> 2, 2L -> 2, 4L -> 0,
      1L -> 1, 3L -> 1, 5L -> 1))
  }

  test("compute-dense inputs split by compute, not input bytes: " +
      "single-partition sources fan out at the expansion points") {
    import graft.pipeline.{Dedup, Similarity}
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // a coalesced (single-partition) corpus — the dense-parquet shape
    // the sf10 probe caught running whole pair joins in one task
    val docs = (0 until 64).map(i => (i.toLong, s"w$i x$i y$i z$i common"))
      .toDF("doc_id", "text").coalesce(1)
    assert(docs.rdd.getNumPartitions == 1)
    assert(Dedup.shingleIndex(docs, 2).rdd.getNumPartitions >= par,
      "shingle explode must fan out from a one-split source")
    val emb = (0 until 64).map(i => (i.toLong,
      Array.tabulate(8)(j => (i * 8 + j).toFloat))).toDF("vec_id", "embedding")
      .coalesce(1)
    assert(Similarity.lshBuckets(emb, 2, 8).rdd.getNumPartitions >= par)
    // and an already-wide source is left alone (no gratuitous shuffle)
    val wide = docs.repartition(par * 2)
    assert(Dedup.shingleIndex(wide, 2).rdd.getNumPartitions == par * 2)
  }

  test("kmeans native-argmin assignment matches the literal path " +
      "exactly") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    // literalMax = 1 forces every assign through the CentroidArgmin
    // reference-object path; the contract (rounded centroids,
    // c·c − 2·v·c index-ordered dots, (dist, cluster) tie order with
    // first-wins strict <) must produce the identical map
    val viaLiteral = Similarity.kmeans(e, 12, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaNative = Similarity.kmeans(e, 12, 2, literalMax = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaLiteral == viaNative)
  }

  test("semantic pairs are a subset of the exact pair set, all within " +
      "one cluster") {
    import graft.pipeline.{Dedup, Similarity}
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val pairs = Dedup.semanticPairs(e, tau = 0.4, k = 8, iters = 2)
    assert(pairs.where(col("cosine") < 0.4).isEmpty)
    // precision 1.0: every semantic pair is in the exact pair set
    val exact = Dedup.embeddingDupPairs(e, tau = 0.4).select("v1", "v2")
    assert(pairs.select("v1", "v2")
      .join(exact, Seq("v1", "v2"), "left_anti").isEmpty)
    // pair members really share the emitted cluster
    val assign = Similarity.kmeans(e, 8, 2)
    val mism = pairs
      .join(assign.toDF("v1", "c1"), "v1")
      .join(assign.toDF("v2", "c2"), "v2")
      .where(col("c1") =!= col("cluster") || col("c2") =!= col("cluster"))
    assert(mism.isEmpty)
  }

  test("two-level semantic pairs: precision 1.0, cluster-consistent, " +
      "and the in-cluster LSH path is a subset of the exact path") {
    import graft.pipeline.Dedup
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val pairs = Dedup.semanticPairs2L(e, tau = 0.4)
    assert(pairs.where(col("cosine") < 0.4).isEmpty)
    // precision 1.0 against the exact all-pairs set
    val exact = Dedup.embeddingDupPairs(e, tau = 0.4).select("v1", "v2")
    assert(pairs.select("v1", "v2")
      .join(exact, Seq("v1", "v2"), "left_anti").isEmpty)
    // forcing the squarable bound to 0 flips the SAME corpus onto the
    // in-cluster LSH mining path: banding may MISS pairs (recall < 1
    // at this deliberately loose τ) but must never invent one — the
    // LSH-path output is a subset of the exact-path in-cluster pairs
    val viaLsh = Dedup.semanticPairs2L(e, tau = 0.4, squarableCell = 0)
    assert(viaLsh.select("cluster", "v1", "v2")
      .join(pairs.select("cluster", "v1", "v2"),
        Seq("cluster", "v1", "v2"), "left_anti").isEmpty)
    // and at the production threshold shape the banding is strong
    // enough that recall on this corpus is non-trivial
    assert(viaLsh.count() >= pairs.count() / 2,
      s"lsh=${viaLsh.count()} exact=${pairs.count()}")
  }

  test("incremental minhash emits batch pairs only, via the corpus " +
      "band index") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (11L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalMinhash(corpus,
        Dedup.minhashBandIndex(corpus), batch, tau = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,10) exact dup and (2,10) near-dup cross pairs; the
    // corpus-internal near-dup (1,2) must NOT be recomputed
    assert(got.contains((1L, 10L)) && !got.contains((1L, 2L)))
    assert(got.forall { case (d1, d2) => d1 >= 10L || d2 >= 10L })
  }

  test("C4 line cleaning: word count, punctuation, blacklist and " +
      "brace rules, page keep threshold") {
    import spark.implicits._
    import graft.pipeline.Curation
    val text = Seq(
      "This is a proper sentence.",   // kept
      "no terminal punctuation here", // dropped: requirePunct
      "Enable Javascript to continue please.", // dropped: blacklist
      "if (x) { return y; }",         // dropped: curly brace
      "Too short.").mkString("\n")    // dropped: < 3 words
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val r = Curation.cleanLines(d, minWords = 3, requirePunct = true,
      minLines = 2).head()
    assert(r.getInt(1) == 5 && r.getInt(2) == 1)      // n_lines, n_kept
    assert(!r.getBoolean(3))                          // page_keep
    assert(r.getString(4) == "This is a proper sentence.")
  }

  test("unigram lm score matches hand-computed add-one log-probs") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // counts: a=2 b=2 c=1, N=5, V=3 → denom ln(8)
    val lpA = math.log(3.0) - math.log(8.0)
    val lpC = math.log(2.0) - math.log(8.0)
    assert(got(1L) == r6((lpA + lpA + lpA) / 3)) // a a b: lp(b)=lp(a)
    assert(got(2L) == r6((lpA + lpC) / 2))
  }

  test("pmi collocations match hand-computed log ratios") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val d = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(d, minCount = 2, k = 10).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // tokens a,b,a,b,a,b: nu=6; bigrams ab×3, ba×2: nb=5; cu(a)=cu(b)=3
    assert(got == Map(
      ("a", "b") -> (3L, r6(math.log(3.0 * 6 * 6 / (5.0 * 3 * 3)))),
      ("b", "a") -> (2L, r6(math.log(2.0 * 6 * 6 / (5.0 * 3 * 3))))))
  }

  test("substring dup pairs count shared n-token windows") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),  // shares exactly the window "a b c d"
      (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDupPairs(d, n = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 2L) -> 1L))
  }

  test("quality prune drops each key's below-threshold scores only") {
    import spark.implicits._
    import graft.pipeline.Curation
    // s1: four typical docs + one all-rare doc (strictly lowest LM
    // score, below the 0.1 quantile) → only it goes; s2: two equal
    // docs tie at their own threshold → both stay
    val d = Seq(
      (1L, "s1", "common words here"), (2L, "s1", "common words here"),
      (3L, "s1", "common words here"), (4L, "s1", "common words here"),
      (5L, "s1", "zzyx qqwv jjkk"),
      (10L, "s2", "common words here"), (11L, "s2", "common words here"))
      .toDF("doc_id", "source", "text")
    val kept = Curation.qualityPrune(d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("length quantiles interpolate exactly per key") {
    import spark.implicits._
    import graft.pipeline.Curation
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, "s", words(1)), (2L, "s", words(2)),
      (3L, "s", words(3)), (4L, "s", words(4)))
      .toDF("doc_id", "source", "text")
    val r = Curation.lengthQuantiles(d).head()
    // sorted lengths 1,2,3,4: rank (n-1)q → 1.5, 2.7, 2.97
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5)
    assert(r.getDouble(3) == 3.7)
    assert(r.getDouble(4) == 3.97)
  }

  test("sequence packing: greedy per-key bins, oversize doc isolation") {
    import spark.implicits._
    import graft.pipeline.Curation
    // key a: 3+4 fit a 7-budget bin, 5 overflows → bin 1, 2 joins it;
    // an oversize doc (9 > 7) closes the bin and sits alone; key b
    // packs independently
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "a", doc(3)), (2L, "a", doc(4)), (3L, "a", doc(5)),
      (4L, "a", doc(2)), (5L, "a", doc(9)), (6L, "a", doc(1)),
      (10L, "b", doc(7)), (11L, "b", doc(1)))
      .toDF("doc_id", "source", "text")
    val bins = Curation.packSequences(d, "source", budget = 7)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 3L, 10L -> 0L, 11L -> 1L))
  }

  test("quota sampling is two-phase: skewed key never feeds one task " +
      "more than quota rows per input slice") {
    import spark.implicits._
    import graft.pipeline.Curation
    // 10k docs on ONE key across 8 input partitions — the pathological
    // hot-key shape. Phase 1 must cut the key to ≤ quota rows per
    // source partition BEFORE the key-shuffle, so the phase-2 task
    // sorts ≤ quota × n_partitions rows, not the whole key.
    val quota = 5
    val hot = spark.range(10000).repartition(8)
      .select(col("id").as("doc_id"), lit("hot").as("source"))
    val nParts = hot.rdd.getNumPartitions
    val pruned = Curation.quotaPrune(hot, "source", quota, "doc_id")
    val prunedN = pruned.count()
    assert(prunedN <= quota.toLong * nParts,
      s"phase-1 kept $prunedN rows for $nParts slices")
    // exact same result as the naive single-window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val naive = hot.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota).drop("__rn")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = Curation.quotaSample(hot, "source", quota)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == naive && sampled.size == quota)
  }

  test("sequence packing shards a key deterministically and bins " +
      "number per (key, shard)") {
    import spark.implicits._
    import graft.pipeline.Curation
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = (1L to 40L).map(i => (i, "a", doc(3))).toDF(
      "doc_id", "source", "text")
    val packed = Curation.packSequences(d, "source", budget = 7,
      shards = 4).collect()
      .map(r => (r.getLong(1), r.getInt(4), r.getLong(3)))
    // every doc appears exactly once; shards are stable md5 buckets
    assert(packed.map(_._1).toSet == (1L to 40L).toSet)
    val byShard = packed.groupBy(_._2)
    assert(byShard.size > 1) // skew actually split
    // each shard packs its own id-ordered stream: bins start at 0 and
    // are contiguous within the shard
    byShard.foreach { case (_, rows) =>
      val bins = rows.map(_._3).distinct.sorted.toSeq
      assert(bins.head == 0L && bins == (0L until bins.length.toLong))
    }
    // deterministic: same input → same (shard, bin) assignment
    val again = Curation.packSequences(d, "source", budget = 7,
      shards = 4).collect()
      .map(r => (r.getLong(1), r.getInt(4), r.getLong(3))).sortBy(_._1)
    assert(again.toSeq == packed.sortBy(_._1).toSeq)
  }

  test("gremlin pipes compile to frontier joins over the quads view") {
    import graft.ops.{Gremlin, Graph, Search}
    val store = GraftStore.forDir(spark, Sf)
    // forward chain ≡ the xg expansion minus the originals
    val viaGremlin = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").out("refRegion").id""")
      .collect().map(_.getString(0)).toSet
    val viaXg = paths(Graph.xg(store,
      store.current.where(col("system.path") === "/customer/1"),
      Graph.parseXg("refNation>refRegion", Graph.refFields(store))))
      .filter(_.startsWith("/region/"))
    assert(viaGremlin == viaXg && viaGremlin.size == 1)
    // count terminal over all vertices
    val n = Gremlin.eval(store, "g.V.count()").head().getLong(0)
    assert(n == store.current.count())
    // wildcard out uses the whole reference-field universe
    val out1 = Gremlin.eval(store, """g.v("/nation/1").out""")
      .collect().map(_.getString(0)).toSet
    assert(out1.nonEmpty && out1.forall(_.startsWith("/region/")))
    // both = out ∪ in (region side + every customer/supplier pointing in)
    val both = Gremlin.eval(store, """g.v("/nation/1").both""")
      .collect().map(_.getString(0)).toSet
    assert(both.exists(_.startsWith("/region/")) &&
      both.exists(_.startsWith("/customer/")))
    // has() routes through the typed filter compiler (numeric field)
    val hasN = Gremlin.eval(store,
        """g.v("/nation/11").in("refNation").has("mktsegment", "BUILDING").id""")
      .collect().map(_.getString(0)).toSet
    val building = paths(Search.run(store, Search.Request(path = "/customer",
      qp = Some("mktsegment::BUILDING"))))
    val inNation = paths(Graph.yg(store,
      store.current.where(col("system.path") === "/nation/11"),
      "<refNation"))
    assert(hasN == building.intersect(inNation) && hasN.nonEmpty)
    // missing vertex = empty pipe, not an error (Blueprints getVertex)
    assert(Gremlin.eval(store, """g.v("/no/such").out.id""").count() == 0)
    // fail-loud syntax: unknown pipe, pipe after terminal
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/nation/1").frobnicate""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/nation/1").id.out""") }
  }

  test("xg and yg share one level loop: same rows, same expansion cap") {
    import graft.ops.Graph
    val store = GraftStore.forDir(spark, Sf)
    val base = Search.run(store, Search.Request(path = "/lineitem",
      qp = Some("quantity>49.5")))
    val levels = Graph.parseXg("refOrders>refCustomer", Graph.refFields(store))
    val expr = ">refOrders>refCustomer"
    def rows(df: DataFrame) =
      df.select("system.path").collect().map(_.getString(0)).sorted.toSeq
    val viaXg = rows(Graph.xg(store, base, levels))
    assert(viaXg.size > base.count() && viaXg == rows(Graph.yg(store, base, expr)))
    // no level reaches more than the whole result: the cap is inert
    val roomy = Some(viaXg.size)
    assert(rows(Graph.xg(store, base, levels, limit = roomy)) == viaXg)
    assert(rows(Graph.yg(store, base, expr, limit = roomy)) == viaXg)
    // the first level already reaches more than one order: both abort
    intercept[IllegalStateException] {
      Graph.xg(store, base, levels, limit = Some(1)) }
    intercept[IllegalStateException] {
      Graph.yg(store, base, expr, limit = Some(1)) }
  }

  test("gremlin hasNot keeps a hop target without an infoton in every evaluator") {
    import graft.ops.Gremlin
    // /b/1 exists only as a ref target: .out emits it as a vertex, and
    // that vertex has no properties at all
    val store = storeOf(Seq(
      "<c://a/1> <cmwell://ont#refX> <c://b/1> .",
      "<c://a/1> <cmwell://ont#name> \"a\" ."), T("2024-01-01 00:00:00"))
    def rows(q: String) =
      Gremlin.eval(store, q).collect().map(_.toSeq.mkString(",")).toSet
    val target = """g.v("/a/1").out("refX").hasNot("name")"""
    assert(rows(s"$target.id") == Set("/b/1"))
    assert(rows(s"$target.path") == Set("/a/1>/b/1"))
    assert(rows(s"$target.groupCount") == Set("/b/1,1"))
    // the start vertex carries the property: dropped by all three
    val start = """g.v("/a/1").hasNot("name")"""
    assert(Seq("id", "path", "groupCount").forall(t => rows(s"$start.$t").isEmpty))
  }

  test("gremlin edge pipes: outE/inE/bothE, inV/outV, label, edge ids") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // outE.inV ≡ out (same targets through the edge frame)
    val viaEdge = Gremlin.eval(store,
        """g.v("/customer/1").outE("refNation").inV.id""")
      .collect().map(_.getString(0)).toSet
    val viaOut = Gremlin.eval(store, """g.v("/customer/1").out("refNation").id""")
      .collect().map(_.getString(0)).toSet
    assert(viaEdge == viaOut && viaEdge.nonEmpty)
    // outV returns to the source side
    assert(Gremlin.eval(store,
        """g.v("/customer/1").outE("refNation").outV.id""")
      .collect().map(_.getString(0)).toSet == Set("/customer/1"))
    // composite edge id mirrors JenaEdge.getId: outV-label->inV
    val eid = Gremlin.eval(store, """g.v("/customer/1").outE("refNation")""")
      .collect().map(_.getString(0))
    assert(eid.length == 1 &&
      eid.head.matches("/customer/1-refNation->/nation/\\d+"))
    // label terminal over a wildcard outE names every leaving field
    val labels = Gremlin.eval(store, """g.v("/customer/1").outE.label""")
      .collect().map(_.getString(0)).toSet
    assert(labels == Set("refNation"))
    // inE finds the edges POINTING AT the frontier; count matches in()
    val inECount = Gremlin.eval(store,
        """g.v("/nation/1").inE("refNation").count()""").head().getLong(0)
    val inCount = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").count()""").head().getLong(0)
    assert(inECount == inCount && inECount > 0)
    // bothE = leaving ∪ entering edges
    val bothE = Gremlin.eval(store, """g.v("/nation/1").bothE.label""")
      .collect().map(_.getString(0)).toSet
    assert(bothE.contains("refRegion") && bothE.contains("refNation"))
    // limit on an edge frontier is deterministic (from,label,to order)
    val lim = Gremlin.eval(store, """g.V.outE("refRegion").limit(2)""")
      .collect().map(_.getString(0)).toSeq
    assert(lim == lim.sorted && lim.size == 2)
    // .path terminal: full trails as '>'-joined strings
    val trail = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").out("refRegion").path""")
      .collect().map(_.getString(0))
    assert(trail.length == 1 &&
      trail.head.matches("/customer/1>/nation/\\d+>/region/\\d+"))
    // bare path = each start vertex alone
    assert(Gremlin.eval(store, """g.v("/customer/1").path""")
      .collect().map(_.getString(0)).toSeq == Seq("/customer/1"))
    // filters compose (semi joins keep the trail); `in` prepends the
    // reverse hop's source
    val inTrail = Gremlin.eval(store,
        """g.v("/nation/11").in("refNation").has("mktsegment", "BUILDING").limit(2).path""")
      .collect().map(_.getString(0))
    assert(inTrail.length == 2 &&
      inTrail.forall(_.matches("/nation/11>/customer/\\d+")))
    // .path must be terminal; edge pipes don't compose with it
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").path.out""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").outE.path""") }
    // fail-loud: edges have no props; vertex hops need inV/outV first;
    // inV needs an edge frontier
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.outE.has("mktsegment", "BUILDING")""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.outE.out("refNation")""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").inV""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").label""") }
  }

  test("gremlin loop/as/back: bounded loops desugar to hop joins, " +
      "back rewinds survivors, unbounded loops fail loud") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // loop("x", 2) ≡ writing the hop twice
    val viaLoop = Gremlin.eval(store,
        """g.v("/customer/1").as("x").out().loop("x", 2).id""")
      .collect().map(_.getString(0)).toSet
    val manual = Gremlin.eval(store, """g.v("/customer/1").out().out().id""")
      .collect().map(_.getString(0)).toSet
    assert(viaLoop == manual && viaLoop.nonEmpty)
    // numeric form counts pipes back instead of a label
    val viaK = Gremlin.eval(store,
        """g.v("/customer/1").out().loop(1, 2).id""")
      .collect().map(_.getString(0)).toSet
    assert(viaK == manual)
    // a filter inside the segment repeats with it
    val filtered = Gremlin.eval(store,
        """g.v("/region/1").as("x").in().dedup().loop("x", 2).count()""")
      .head().getLong(0)
    assert(filtered > 0)
    // back: nations of region 1 with a BUILDING customer — a subset of
    // region 1's nations, every member really reached by a survivor
    val backed = Gremlin.eval(store,
        """g.v("/region/1").in("refRegion").as("n").in("refNation").has("mktsegment", "BUILDING").back("n").id""")
      .collect().map(_.getString(0)).toSet
    assert(backed.nonEmpty && backed.forall(_.startsWith("/nation/")))
    val allNations = Gremlin.eval(store,
        """g.v("/region/1").in("refRegion").id""")
      .collect().map(_.getString(0)).toSet
    assert(backed.subsetOf(allNations))
    // unbounded/over-bounded loops fail loud (closures need the
    // reference's Groovy engine; our contract is a literal count 1-20)
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").as("x").out().loop("x")""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").out().loop(1, 99)""") }
    // loop target must exist; segment must be vertex pipes only
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").out().loop("nope", 2)""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store,
        """g.v("/customer/1").as("x").outE().loop("x", 2)""") }
    // back target must exist; edge pipes reject live carries
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").out().back("x")""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").as("x").outE("refNation")""") }
  }

  test("gremlin groupCount: hops preserve path multiplicity, dedup " +
      "resets it, non-vertex pipes fail loud") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // per-nation in-path counts = customer counts per nation
    val gc = Gremlin.eval(store, """g.V.has("mktsegment").out("refNation").groupCount""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$Sf/customer.parquet")
      .groupBy(concat(lit("/nation/"), col("c_nationkey").cast("string")))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gc == want && gc.values.sum > gc.size,
      "multiplicity must survive the hop (counts > 1 somewhere)")
    // dedup collapses multiplicity back to 1 before the next hop
    val deduped = Gremlin.eval(store,
        """g.V.has("mktsegment").out("refNation").dedup().groupCount""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deduped.keySet == want.keySet && deduped.values.forall(_ == 1L))
    // two-hop multiplicity: region counts = Σ over nations
    val byRegion = Gremlin.eval(store,
        """g.V.has("mktsegment").out("refNation").out("refRegion").groupCount""")
      .collect().map(r => r.getLong(1)).sum
    assert(byRegion == want.values.sum)
    // groupCount must be terminal; edge pipes / as don't compose
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.groupCount.out""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.outE("refNation").groupCount""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.as("x").out().groupCount""") }
  }

  test("gremlin order/select/simplePath: engine-sorted stream, named-" +
      "step projection, revisit filtering") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // .order emits the stream already id-sorted (no orderBy on top)
    val ordered = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").has("mktsegment").order""")
      .collect().map(_.getString(0)).toSeq
    assert(ordered.nonEmpty && ordered == ordered.sorted)
    // order → limit composes (top-n by id)
    val top3 = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").has("mktsegment").order.limit(3)""")
      .collect().map(_.getString(0)).toSeq
    assert(top3 == ordered.take(3))
    // a hop after .order would lose the sort — fail loud
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.order.out("refNation")""") }
    // .select projects the .as-named steps as columns, naming order
    val sel = Gremlin.eval(store,
      """g.v("/customer/1").as("c").out("refNation").as("n").select""")
    assert(sel.columns.toSeq == Seq("c", "n"))
    val row = sel.collect().head
    assert(row.getString(0) == "/customer/1" &&
      row.getString(1).startsWith("/nation/"))
    // .select without a preceding .as fails loud
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.v("/customer/1").out("refNation").select""") }
    // .simplePath: out-and-back via the same vertex is dropped; with
    // .path every surviving trail has no repeats
    val trails = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").both().simplePath.path""")
      .collect().map(_.getString(0)).toSeq
    assert(trails.forall { t =>
      val hops = t.split(">").toSeq
      hops.distinct == hops && !hops.tail.contains("/customer/1")
    })
    // the same chain WITHOUT simplePath does contain the revisit
    val all = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").both().path""")
      .collect().map(_.getString(0)).toSeq
    assert(all.exists(_.split(">").toSeq.tail.contains("/customer/1")) &&
      all.size > trails.size)
    // simplePath without .path ends as the implicit id terminal
    val ids = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").both().simplePath""")
    assert(ids.columns.toSeq == Seq("id") &&
      !ids.collect().map(_.getString(0)).contains("/customer/1"))
  }

  test("gremlin aggregate/except/retain: named bags filter via " +
      "anti/semi joins") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // except drops the bagged home nation from the sibling expansion
    val sib = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").aggregate("h").out("refRegion").in("refRegion").except("h").id""")
      .collect().map(_.getString(0)).toSet
    val home = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").id""")
      .collect().map(_.getString(0)).toSet
    val all = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").out("refRegion").in("refRegion").id""")
      .collect().map(_.getString(0)).toSet
    assert(sib == all -- home && sib.nonEmpty)
    // retain is the semi-join dual: except(b) ∪ retain(b) = stream
    val ret = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").aggregate("h").out("refRegion").in("refRegion").retain("h").id""")
      .collect().map(_.getString(0)).toSet
    assert(ret == home && (sib ++ ret) == all)
    // the bag snapshots the set at aggregate time, not at filter time:
    // a later hop doesn't change what was bagged
    val snap = Gremlin.eval(store,
        """g.v("/nation/1").aggregate("b").out("refRegion").in("refRegion").retain("b").id""")
      .collect().map(_.getString(0)).toSet
    assert(snap == Set("/nation/1"))
    // except/retain against an undeclared bag fail loud
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.except("nope").id""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.retain("nope").id""") }
    // aggregate on an edge frontier fails loud (vertex pipe)
    intercept[IllegalArgumentException] {
      Gremlin.eval(store,
        """g.v("/customer/1").outE("refNation").aggregate("e")""") }
  }

  test("gremlin except/retain over a NAMED STEP: per-path equality " +
      "(Gremlin 2 string overload); bag wins on a name clash") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // except("x") with a live .as and no bag: drop rows whose head ==
    // the vertex this path held at x — the same-nation neighborhood
    // minus the start itself
    val exc = Gremlin.eval(store,
        """g.v("/customer/1").as("x").out("refNation").in("refNation").except("x").id""")
      .collect().map(_.getString(0)).toSet
    val hood = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").in("refNation").id""")
      .collect().map(_.getString(0)).toSet
    assert(exc == hood - "/customer/1" && exc.nonEmpty)
    // retain("x") is the dual: exactly the rows that returned to x
    val ret = Gremlin.eval(store,
        """g.v("/customer/1").as("x").out("refNation").in("refNation").retain("x").id""")
      .collect().map(_.getString(0)).toSet
    assert(ret == Set("/customer/1"))
    // a name that is BOTH a bag and a live .as resolves to the bag:
    // bagging the start then walking away and excepting drops the
    // bagged vertex set (bag semantics), which here equals the
    // named-step result — assert via the retain dual where the two
    // semantics DIFFER: bag retain keeps everything in the bag
    // (including rows whose path never returned), per-path retain
    // would keep only head==x rows. Bag the FULL neighborhood, then
    // retain: every row survives under bag precedence.
    val clash = Gremlin.eval(store,
        """g.v("/customer/1").as("b").out("refNation").in("refNation").aggregate("b").retain("b").id""")
      .collect().map(_.getString(0)).toSet
    assert(clash == hood)
    // unknown names (neither bag nor .as) still fail loud
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.as("x").except("nope").id""") }
  }

  test("gremlin filter{} translatable subset desugars to typed has; " +
      "programmatic closures fail loud; bag re-use appends") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // comparison closure == the equivalent has-comparator, both forms
    val viaFilter = Gremlin.eval(store,
        """g.V.has("mktsegment").filter{it.acctbal > 9000}.id""")
      .collect().map(_.getString(0)).toSet
    val viaHas = Gremlin.eval(store,
        """g.V.has("mktsegment").has("acctbal", "gt", "9000").id""")
      .collect().map(_.getString(0)).toSet
    assert(viaFilter == viaHas && viaFilter.nonEmpty)
    // string equality + getProperty alias
    val eq1 = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.mktsegment == "MACHINERY"}.id""")
      .collect().map(_.getString(0)).toSet
    val eq2 = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.getProperty("mktsegment") == "MACHINERY"}.id""")
      .collect().map(_.getString(0)).toSet
    assert(eq1 == eq2 && eq1.nonEmpty)
    // closure != is GROOVY-null: a vertex without the property passes
    // (nation 1's in-frontier holds suppliers, which carry no
    // mktsegment — they must survive), while has(p,"neq",v) stays
    // Blueprints-T.neq exists-gated
    // nation 3 has BOTH a supplier (no mktsegment) and a MACHINERY
    // customer at this sf, so the two dialects are distinguishable
    val neq = Gremlin.eval(store,
        """g.v("/nation/3").in("refNation").filter{it.mktsegment != "MACHINERY"}.id""")
      .collect().map(_.getString(0)).toSet
    val frontierAll = Gremlin.eval(store,
        """g.v("/nation/3").in("refNation").id""")
      .collect().map(_.getString(0)).toSet
    val withProp = Gremlin.eval(store,
        """g.v("/nation/3").in("refNation").has("mktsegment").id""")
      .collect().map(_.getString(0)).toSet
    val eq3 = Gremlin.eval(store,
        """g.v("/nation/3").in("refNation").filter{it.mktsegment == "MACHINERY"}.id""")
      .collect().map(_.getString(0)).toSet
    assert(neq == frontierAll -- eq3 && neq.nonEmpty)
    assert(neq.exists(_.startsWith("/supplier/")),
      s"property-less vertices must pass closure !=: $neq")
    val neqHas = Gremlin.eval(store,
        """g.v("/nation/3").in("refNation").has("mktsegment", "neq", "MACHINERY").id""")
      .collect().map(_.getString(0)).toSet
    assert(neqHas == withProp -- eq3, "has-form neq stays exists-gated")
    assert(!neqHas.exists(_.startsWith("/supplier/")))
    // a qp metacharacter in the literal is DATA, not qp syntax: this
    // compares against the literal string (no vertex carries it),
    // never re-parses as mktsegment::MACHINERY AND acctbal>0
    assert(Gremlin.eval(store,
      """g.V.filter{it.mktsegment == "MACHINERY,acctbal>0"}.id""")
      .collect().isEmpty)
    // && conjunction desugars to consecutive has steps — exact
    val conj = Gremlin.eval(store,
        """g.V.filter{it.mktsegment == "MACHINERY" && it.acctbal > 0}.id""")
      .collect().map(_.getString(0)).toSet
    val conj2 = Gremlin.eval(store,
        """g.V.has("mktsegment", "MACHINERY").has("acctbal", "gt", "0").id""")
      .collect().map(_.getString(0)).toSet
    assert(conj == conj2 && conj.nonEmpty)
    // a quoted && is DATA, not a conjunction split: this parses as a
    // single equality on the literal "A && B" (empty result, no error)
    assert(Gremlin.eval(store,
      """g.V.filter{it.mktsegment == "A && B"}.id""").collect().isEmpty)
    // programmatic closures fail loud — they need the Groovy engine
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter{it.name.contains("x")}.id""") }
    intercept[IllegalArgumentException] { // || is not translatable
      Gremlin.eval(store,
        """g.V.filter{it.acctbal > 5 || it.acctbal < 1}.id""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter{it.acctbal > it.limit}.id""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.sideEffect{x += it}.id""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter("notaclosure").id""") }
    // re-using a bag name APPENDS (Gremlin 2 accumulates into one
    // collection): the FIRST snapshot must survive the second
    // aggregate — retain over the nation's in-neighborhood still
    // finds the bagged customer (an overwrite would empty this)
    val kept = Gremlin.eval(store,
        """g.v("/customer/1").aggregate("b").out("refNation").aggregate("b").in("refNation").retain("b").id"""
      ).collect().map(_.getString(0)).toSet
    assert(kept.contains("/customer/1"),
      s"first snapshot lost on bag re-use: $kept")
    // and the SECOND snapshot is live too: except over the region's
    // nations drops the bagged home nation
    val sibs = Gremlin.eval(store,
        """g.v("/customer/1").aggregate("b").out("refNation").aggregate("b").out("refRegion").in("refRegion").except("b").id"""
      ).collect().map(_.getString(0)).toSet
    val home = Gremlin.eval(store,
        """g.v("/customer/1").out("refNation").id""")
      .collect().map(_.getString(0)).toSet
    assert(sibs.nonEmpty && (sibs & home).isEmpty,
      s"second snapshot missing: $sibs / $home")
  }

  test("gremlin regex closures: ==~ anchors, =~ finds, parenthesized " +
      "negation is existence-gated, bare !~ fails loud") {
    import graft.ops.Gremlin
    val store = GraftStore.forDir(spark, Sf)
    // ==~ full-match on an exact literal == the has-eq set
    val viaRegex = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.mktsegment ==~ /MACHINERY/}.id""")
      .collect().map(_.getString(0)).toSet
    val viaHas = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").has("mktsegment", "MACHINERY").id""")
      .collect().map(_.getString(0)).toSet
    assert(viaRegex == viaHas && viaRegex.nonEmpty)
    // ==~ is Groovy Pattern.matches — a partial pattern matches NOTHING
    assert(Gremlin.eval(store,
      """g.V.filter{it.mktsegment ==~ /MACH/}.id""").collect().isEmpty)
    // =~ is truthy find — the same partial pattern hits MACHINERY
    val find = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.mktsegment =~ /MACH/}.id""")
      .collect().map(_.getString(0)).toSet
    assert(find == viaHas)
    // real regex syntax rides through: alternation + char class +
    // escaped digit class, full-match over the whole frontier
    val alts = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.mktsegment ==~ /(MACHINERY|BUILD\w+)/}.id""")
      .collect().map(_.getString(0)).toSet
    val union = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").has("mktsegment", "BUILDING").id""")
      .collect().map(_.getString(0)).toSet ++ viaHas
    assert(alts == union && alts.nonEmpty)
    // Groovy-negation !(...) is EXISTENCE-GATED (Groovy itself NPEs
    // on a missing property): nation 1's suppliers carry no
    // mktsegment and must NOT pass, unlike the closure != dialect
    val negated = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{!(it.mktsegment =~ /MACH/)}.id""")
      .collect().map(_.getString(0)).toSet
    val withProp = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").has("mktsegment").id""")
      .collect().map(_.getString(0)).toSet
    assert(negated == withProp -- find && negated.nonEmpty)
    assert(!negated.exists(_.startsWith("/supplier/")),
      s"regex negation must stay existence-gated: $negated")
    // the \/ slashy escape is the one Groovy-level unescape: a
    // full-match against the path-valued refNation string slot
    val esc = Gremlin.eval(store,
        """g.V.filter{it.refNation ==~ /\/nation\/1/}.id""")
      .collect().map(_.getString(0)).toSet
    assert(esc == Gremlin.eval(store,
      """g.v("/nation/1").in("refNation").id""")
      .collect().map(_.getString(0)).toSet)
    // conjunction mixes regex and comparator conjuncts
    val mixed = Gremlin.eval(store,
        """g.v("/nation/1").in("refNation").filter{it.mktsegment =~ /MACH/ && it.acctbal > 0}.id""")
      .collect().map(_.getString(0)).toSet
    assert(mixed.subsetOf(find))
    // bare !~ is NOT a Groovy operator — the reference's script
    // engine throws, so this fails loud instead of guessing
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter{it.mktsegment !~ /MACH/}.id""") }
    // unbalanced negation parens fail loud too
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter{!(it.mktsegment =~ /MACH/}.id""") }
  }

  test("gremlin transform{} pure projections: it / it.id / it.prop; " +
      "computed bodies fail loud") {
    import graft.ops.Gremlin
    val store = graft.model.GraftStore.forDir(spark, Sf)
    // it.prop ≡ .values(prop)
    val viaTransform = Gremlin.eval(store,
        """g.V.has("mktsegment", "BUILDING").transform{it.name}""")
      .collect().map(_.getString(0)).toSet
    val viaValues = Gremlin.eval(store,
        """g.V.has("mktsegment", "BUILDING").values("name")""")
      .collect().map(_.getString(0)).toSet
    assert(viaTransform == viaValues && viaTransform.nonEmpty)
    // it.getProperty("p") alias
    assert(Gremlin.eval(store,
        """g.V.has("mktsegment", "BUILDING").transform{it.getProperty("name")}""")
      .collect().map(_.getString(0)).toSet == viaValues)
    // transform{it} is the identity, transform{it.id} the id terminal
    val ids = Gremlin.eval(store,
        """g.V.has("mktsegment", "BUILDING").transform{it}.id""")
      .collect().map(_.getString(0)).toSet
    assert(ids == Gremlin.eval(store,
        """g.V.has("mktsegment", "BUILDING").transform{it.id}""")
      .collect().map(_.getString(0)).toSet && ids.nonEmpty)
    // computed bodies need the Groovy engine — fail loud
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.transform{it.name + "x"}""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.transform{it.out("refNation")}""") }
    // a chained Groovy accessor is indistinguishable from a dotted
    // field in the bare form — fail loud, never silently probe a
    // nonexistent dotted field (same rule in filter{})
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.transform{it.name.bytes}""") }
    intercept[IllegalArgumentException] {
      Gremlin.eval(store, """g.V.filter{it.name.bytes == "x"}.id""") }
    // getProperty("id") is the PROPERTY named id (none exists here —
    // empty), not the element-id terminal (only bare it.id is)
    assert(Gremlin.eval(store,
      """g.V.has("mktsegment", "BUILDING").transform{it.getProperty("id")}""")
      .collect().isEmpty)
  }

  test("connected components fold pair lists into dedup clusters") {
    import spark.implicits._
    // triangle {1,2,3}, chain 10-11-12-13 (tests multi-hop label
    // flow), isolated pair {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (1L, 3L),
      (11L, 10L), (12L, 11L), (13L, 12L), (21L, 20L))
      .toDF("v1", "v2")
    // job-count audit: with AQE + broadcast off (each of which splits
    // one action into several scheduler jobs), the loop must cost ONE
    // job per round — the changed-row count that materializes the lazy
    // checkpoint — plus one for the eager seed-label checkpoint. The
    // chain needs 2 improving rounds + 1 confirming round = 4 jobs;
    // the old eager-checkpoint + isEmpty-probe shape paid 7.
    val sc = spark.sparkContext
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("cc-jobs", "cc job-count audit")
    val labels = try graft.pipeline.Dedup.connectedComponents(pairs)
    finally {
      sc.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    // status tracker fills from the async listener bus — poll to stable
    var last = -1; var stable = 0
    while (stable < 3) {
      val n = sc.statusTracker.getJobIdsForGroup("cc-jobs").length
      if (n == last) stable += 1 else { stable = 0; last = n }
      Thread.sleep(100)
    }
    assert(last == 4, s"expected 1 seed + 3 round jobs, saw $last")
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
    // keep-one-per-cluster = member == root
    assert(cc.count { case (m, r) => m == r } == 3)
  }

  test("trix ingest roundtrips the trix formatter and reads graph names") {
    import spark.implicits._
    val store = GraftStore.forDir(spark, Sf)
    val cust = Search.run(store, Search.Request(path = "/customer"))
    val (head, tail) = graft.ops.Formatters.trixWrap
    val docs = graft.ops.Formatters.trix(cust).as[String]
      .map(t => head + t + tail)
    val inf = Ingest.ingestTrix(spark, Ingest.emptyStore(spark), docs,
      T("2024-01-01 00:00:00"))
    val st2 = GraftStore.fromInfotons(spark, inf)
    val back = Search.run(st2, Search.Request(path = "/customer"))
    assert(back.count() == cust.count())
    val bal = back.where(col("system.path") === "/customer/1")
      .select(Search.fieldN("acctbal")).head().getDouble(0)
    val expected = cust.where(col("system.path") === "/customer/1")
      .select(Search.fieldN("acctbal")).head().getDouble(0)
    assert(bal == expected)
    // named graph: a leading <uri> in <graph> quad-tags the statements
    val sts = graft.ingest.Trix.parse(
      """<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
        |<graph><uri>c://graph/g7</uri>
        |<triple><uri>c://d/1</uri><uri>c://o#tag</uri>
        |<plainLiteral xml:lang="en">hi</plainLiteral></triple>
        |</graph></TriX>""".stripMargin)
    assert(sts.length == 1 && sts.head.quad.contains("/graph/g7") &&
      sts.head.lang.contains("en"))
  }

  test("SPARQL property-path closures inside GRAPH ?g stay per-graph") {
    // g1 chains a→b→c; g2 only a→b. A closure under GRAPH ?g must not
    // hop across graphs: c is reachable in g1 only.
    val store = storeOf(Seq(
      "<c://pg/a> <c://o#next> <c://pg/b> <c://graph/g1> .",
      "<c://pg/b> <c://o#next> <c://pg/c> <c://graph/g1> .",
      "<c://pg/a> <c://o#next> <c://pg/b> <c://graph/g2> ."),
      T("2024-01-01 00:00:00"))
    val plus = Sparql.select(store,
      """SELECT ?g ?x WHERE { GRAPH ?g { <c://pg/a> <c://o#next>+ ?x } }
        |ORDER BY ?g ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(plus.toSeq == Seq(
      ("/graph/g1", "/pg/b"), ("/graph/g1", "/pg/c"),
      ("/graph/g2", "/pg/b")))
    // zero-or-more adds the per-graph identity: the seed self-matches
    // in each graph that contains it
    val star = Sparql.select(store,
      """SELECT ?g ?x WHERE { GRAPH ?g { <c://pg/a> <c://o#next>* ?x } }
        |ORDER BY ?g ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(star.toSeq == Seq(
      ("/graph/g1", "/pg/a"), ("/graph/g1", "/pg/b"), ("/graph/g1", "/pg/c"),
      ("/graph/g2", "/pg/a"), ("/graph/g2", "/pg/b")))
    // the graph tag joins across patterns in the group: pairing the
    // closure with a same-graph pattern keeps (?g, ?x) consistent
    val joined = Sparql.select(store,
      """SELECT ?g ?x WHERE { GRAPH ?g {
        |  <c://pg/a> <c://o#next>+ ?x . ?x <c://o#next> ?y } }
        |ORDER BY ?g ?x""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(joined.toSeq == Seq(("/graph/g1", "/pg/b")))
  }

  test("SPARQL residual builtins: sameTerm strictness, NOW, BNODE, IF") {
    val store = storeOf(Seq(
      "<c://b/1> <c://o#a> \"1\"^^<http://www.w3.org/2001/XMLSchema#int> .",
      "<c://b/1> <c://o#b> \"1.0\"^^<http://www.w3.org/2001/XMLSchema#double> .",
      "<c://b/2> <c://o#a> \"7\"^^<http://www.w3.org/2001/XMLSchema#int> .",
      "<c://b/2> <c://o#b> \"7\"^^<http://www.w3.org/2001/XMLSchema#int> ."),
      T("2024-01-01 00:00:00"))
    // `=` coerces numerically ("1" == "1.0"); sameTerm does not — only
    // /b/2 (identical lexicals) survives the strict form
    val eq = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x . ?s <c://o#b> ?y .
        |FILTER (?x = ?y) } ORDER BY ?s""".stripMargin)
      .collect().map(_.getString(0))
    assert(eq.toSeq == Seq("/b/1", "/b/2"))
    val same = Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x . ?s <c://o#b> ?y .
        |FILTER (sameTerm(?x, ?y)) } ORDER BY ?s""".stripMargin)
      .collect().map(_.getString(0))
    assert(same.toSeq == Seq("/b/2"))
    // sameTerm against a constant term
    assert(Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x . FILTER (sameTerm(?x, "7")) }"""
    ).collect().map(_.getString(0)).toSeq == Seq("/b/2"))
    // the constant form is lang-strict too: "hello"@en is a different
    // term from the plain constant "hello"
    val storeL = storeOf(Seq(
      "<c://L/1> <c://o#t> \"hello\"@en .",
      "<c://L/2> <c://o#t> \"hello\" ."),
      T("2024-01-01 00:00:00"))
    assert(Sparql.select(storeL,
      """SELECT ?s WHERE { ?s <c://o#t> ?v .
        |FILTER (sameTerm(?v, "hello")) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/L/2"))
    // empty arg lists stay a parse error for non-zero-arg builtins
    assert(intercept[IllegalArgumentException](Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x . BIND(CONCAT() AS ?c) }"""))
      .getMessage.contains("needs arguments"))
    // NOW() is one value per query, ISO-lexical comparable both ways
    assert(Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x .
        |FILTER (NOW() > "2020-01-01T00:00:00") }""".stripMargin)
      .count() == 2)
    assert(Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x .
        |FILTER (NOW() < "2020-01-01T00:00:00") }""".stripMargin)
      .count() == 0)
    // one-arg BNODE: same argument → same label within the query;
    // different arguments → different labels
    val bn = Sparql.select(store,
      """SELECT ?s ?b1 ?b2 ?b3 WHERE { ?s <c://o#a> ?x .
        |BIND(BNODE("k") AS ?b1) BIND(BNODE("k") AS ?b2)
        |BIND(BNODE("j") AS ?b3) FILTER (isBlank(?b1)) }""".stripMargin)
      .collect()
    assert(bn.length == 2)
    bn.foreach { r =>
      assert(r.getString(1) == r.getString(2))
      assert(r.getString(1) != r.getString(3))
    }
    // IF's EBV in FILTER position: numeric 0 is false, non-zero true
    assert(Sparql.select(store,
      """SELECT ?s WHERE { ?s <c://o#a> ?x .
        |FILTER (IF(?x > 5, 1, 0)) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/b/2"))
  }

  test("SPARQL mixed alternation p1|p2+ unions scan and closure") {
    val store = storeOf(Seq(
      "<c://m/1> <c://o#next> <c://m/2> .",
      "<c://m/2> <c://o#next> <c://m/3> .",
      "<c://m/1> <c://o#alias> <c://m/9> .",
      "<c://m/1> <c://o#alias> <c://m/2> ."),
      T("2024-01-01 00:00:00"))
    val r = Sparql.select(store,
      """SELECT ?o WHERE { <c://m/1> <c://o#alias>|<c://o#next>+ ?o }
        |ORDER BY ?o""".stripMargin).collect().map(_.getString(0))
    // alias edges (plain) ∪ next-closure {m/2, m/3}; m/2 is reachable
    // through BOTH branches → two solutions (multiset union, SPARQL
    // 18.4 / Jena behavior — no cross-branch dedup)
    assert(r.toSeq == Seq("/m/2", "/m/2", "/m/3", "/m/9"))
  }

  test("SPARQL inverse members inside path alternations") {
    val store = storeOf(Seq(
      "<c://n/1> <c://o#fwd> <c://hub> .",
      "<c://n/2> <c://o#back> <c://hub> .",
      "<c://hub> <c://o#fwd> <c://n/3> .",
      "<c://n/9> <c://o#tag> \"red\" ."),
      T("2024-01-01 00:00:00"))
    // a LITERAL object empties the inverse branch (literals are never
    // subjects) while the forward branch still matches — not an error
    assert(Sparql.select(store,
      """SELECT ?x WHERE { ?x (^<c://o#back>|<c://o#tag>) "red" }""")
      .collect().map(_.getString(0)).toSeq == Seq("/n/9"))
    assert(Sparql.select(store,
      """SELECT ?x WHERE { ?x ^<c://o#back> "red" }""").count() == 0)
    // parenthesized single hop: inverse member scans swapped ends
    assert(Sparql.select(store,
      """SELECT ?x WHERE { <c://hub> (^<c://o#back>|<c://o#fwd>) ?x }
        |ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/n/2", "/n/3"))
    // bare (unparenthesized) form parses the same
    assert(Sparql.select(store,
      """SELECT ?x WHERE { <c://hub> ^<c://o#back>|<c://o#fwd> ?x }
        |ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/n/2", "/n/3"))
    // closure over a mixed-direction set walks both edge kinds in one
    // frontier: n/1 -fwd-> hub, hub -(^back)-> n/2, hub -fwd-> n/3
    assert(Sparql.select(store,
      """SELECT ?x WHERE { <c://n/1> (<c://o#fwd>|^<c://o#back>)+ ?x }
        |ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("/hub", "/n/2", "/n/3"))
  }

  test("SPARQL negated property sets match the complement") {
    val r = Sparql.select(tagStore,
      "SELECT ?s ?o WHERE { ?s !<c://o#num> ?o } ORDER BY ?s").collect()
    assert(r.map(_.getString(1)).toSeq == Seq("red", "blue", "green"))
    val none = Sparql.select(tagStore,
      "SELECT ?s WHERE { ?s !(<c://o#num>|<c://o#tag>) ?o }").count()
    assert(none == 0)
  }

  private lazy val typedStore = storeOf(Seq(
    "<c://d/1> <c://o#link> <c://d/2> .",
    "<c://d/1> <c://o#label> \"hello\"@en .",
    "<c://d/2> <c://o#label> \"welt\"@de .",
    "<c://d/2> <c://o#size> \"7\"^^<http://www.w3.org/2001/XMLSchema#long> ."),
    T("2024-01-01 00:00:00"))

  test("SPARQL isIRI/isLiteral discriminate term kinds") {
    val iri = Sparql.select(typedStore,
      "SELECT ?s WHERE { ?s ?p ?o . FILTER isIRI(?o) }").collect()
    assert(iri.map(_.getString(0)).toSeq == Seq("/d/1"))
    val lits = Sparql.select(typedStore,
      "SELECT ?s ?o WHERE { ?s ?p ?o . FILTER isLiteral(?o) }").count()
    assert(lits == 3)
    // subject bindings are IRIs by construction (no shadow needed)
    val subj = Sparql.select(typedStore,
      "SELECT ?s WHERE { ?s <c://o#link> ?o . FILTER isIRI(?s) }").count()
    assert(subj == 1)
  }

  test("SPARQL lang()/datatype() accessor comparisons") {
    val en = Sparql.select(typedStore,
      """SELECT ?s WHERE { ?s <c://o#label> ?l .
        |FILTER (lang(?l) = "EN") }""".stripMargin).collect()
    assert(en.map(_.getString(0)).toSeq == Seq("/d/1")) // case-insensitive
    val notEn = Sparql.select(typedStore,
      """SELECT ?s WHERE { ?s <c://o#label> ?l .
        |FILTER (lang(?l) != "en") }""".stripMargin).count()
    assert(notEn == 1)
    val longs = Sparql.select(typedStore,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s ?p ?o . FILTER (datatype(?o) = xsd:long) }"""
        .stripMargin).collect()
    assert(longs.map(_.getString(0)).toSeq == Seq("/d/2"))
  }

  test("SPARQL FILTER compares a variable against an IRI in path form") {
    val r = Sparql.select(typedStore,
      """SELECT ?s WHERE { ?s <c://o#link> ?o .
        |FILTER (?o = <c://d/2>) }""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/d/1"))
    val n = Sparql.select(typedStore,
      """SELECT ?s ?o WHERE { ?s <c://o#link> ?o .
        |FILTER (?o != <c://d/9>) }""".stripMargin).count()
    assert(n == 1)
  }

  test("SPARQL BIND hash and encode_for_uri builtins") {
    val r = Sparql.select(tagStore,
      """SELECT ?h ?u WHERE { <c://doc/1> <c://o#tag> ?t .
        |BIND(MD5(?t) AS ?h) BIND(ENCODE_FOR_URI(CONCAT(?t, " x/y")) AS ?u)
        |}""".stripMargin).head()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("red".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(0) == md)
    assert(r.getString(1) == "red%20x%2Fy")
  }

  test("SPARQL str()/strlen() accessor comparisons") {
    val r = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER (str(?t) = "red") }""".stripMargin).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("/doc/1"))
    val long5 = Sparql.select(tagStore,
      """SELECT ?s WHERE { ?s <c://o#tag> ?t .
        |FILTER (strlen(?t) > 4) }""".stripMargin).collect()
    assert(long5.map(_.getString(0)).toSeq == Seq("/doc/3")) // "green"
  }

  test("BPE training learns the hand-checked merge sequence") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    // the classic BPE illustration: low×3, lower, lowest
    //   pairs: lo=5, ow=5, we=2, er=1, es=1, st=1
    //   tie lo/ow → lexicographic → (l,o,5); then (lo,w,5); then the
    //   we pair survives as (low,e,2); then ties er/est chars:
    //   after low-e: pairs (lowe,r)=1,(lowe,s)=1,(s,t)=1 → lex (lowe,r)
    val d = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val ms = TextAnalysis.bpeTrain(d, 4)
    assert(ms == Seq(("l", "o", 5L), ("lo", "w", 5L),
      ("low", "e", 2L), ("lowe", "r", 1L)), s"got $ms")
    // greedy non-overlap on runs: pair counting sees every adjacency
    // (aaaa→3 + aaa→2 = 5), the merge application is non-overlapping
    // (aaaa→aa,aa; aaa→aa,a), and the next round tie-breaks
    // (aa,a) < (aa,aa) lexicographically
    val runs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val ms2 = TextAnalysis.bpeTrain(runs, 2)
    assert(ms2 == Seq(("a", "a", 5L), ("aa", "a", 1L)), s"got $ms2")
    // encode with the learned table (training order): after 4 merges
    // low→[low] (1 sym), lower→[lower] (merge 4 lands), and
    // lowest→[lowe,s,t] (3); doc of all 5 words: 20 chars →
    // 1+1+1+1+3 = 7 symbols
    val seg = TextAnalysis.bpeSegment(d, ms.map(m => (m._1, m._2)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3)))
    assert(seg.toSeq == Seq((1L, 5, 20, 7)), s"got ${seg.toSeq}")
    // an empty-token doc segments to zeros, not null
    val empty = Seq((9L, "...")).toDF("doc_id", "text")
    val segE = TextAnalysis.bpeSegment(empty, ms.map(m => (m._1, m._2)))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(segE.toSeq == Seq((0, 0, 0)), s"got ${segE.toSeq}")
  }

  test("PQ-ANN recall against exact top-5") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    info(f"PQ recall@5 = $recall%.2f (defaults: m=8, ksub=16, cand=100)")
    assert(approx.size == exact.size)
    assert(recall >= 0.6, "product-quantization recall collapsed")
    // the ADC candidate cut is load-bearing: a tiny candidate pool
    // must cost recall on the near-uniform fixtures (guards against
    // the re-rank silently scanning everything)
    val tiny = Similarity.pqTopK(emb, queries, 5, cand = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tinyRecall = (tiny intersect exact).size.toDouble / exact.size
    info(f"PQ recall@5 with cand=5: $tinyRecall%.2f")
    assert(tinyRecall < recall,
      "candidate pool size had no effect - re-rank is not candidate-bounded")
  }

  test("RP-ANN recall against exact top-5") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.rpTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    info(f"RP recall@5 = $recall%.2f (defaults: rdim=32, cand=200)")
    assert(approx.size == exact.size)
    assert(recall >= 0.6, "random-projection recall collapsed")
  }

  test("token entropy matches hand-computed distributions") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val d = Seq(
      (1L, "a a b b"),      // uniform over 2 → 1 bit
      (2L, "a b c d"),      // uniform over 4 → 2 bits
      (3L, "a a a a"),      // degenerate → 0
      (4L, "--- !!!"),      // no tokens → 0, counts 0
      (5L, "a a b")         // 2/3,1/3 → 0.918296
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((4, 2, 1.0)))
    assert(got(2L) == ((4, 4, 2.0)))
    assert(got(3L) == ((4, 1, 0.0)))
    assert(got(4L) == ((0, 0, 0.0)))
    val h = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) /
      math.log(2)
    assert(got(5L) == ((3, 2,
      BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("url filter: expression path equals the blocklist-join path") {
    import spark.implicits._
    import graft.pipeline.Curation
    val block = Seq("example.com", "ads.tracker.net")
    val d = Seq(
      (1L, "https://www.Example.com/a?b=c"),   // exact (www+case stripped)
      (2L, "http://spam.example.com:8080/x"),  // subdomain suffix
      (3L, "notexample.com/path"),             // similar name, NOT blocked
      (4L, "ftp://ads.tracker.net"),           // exact, other scheme
      (5L, "https://sub.site.org#frag"),       // clean
      (6L, "tracker.net/q")                    // parent of an entry, NOT blocked
    ).toDF("doc_id", "url")
    val lit0 = Curation.urlFilter(d, block)
      .select("doc_id", "domain", "blocked").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(lit0(1L) == (("example.com", true)))
    assert(lit0(2L) == (("spam.example.com", true)))
    assert(lit0(3L) == (("notexample.com", false)))
    assert(lit0(4L) == (("ads.tracker.net", true)))
    assert(lit0(5L) == (("sub.site.org", false)))
    assert(lit0(6L) == (("tracker.net", false)))
    val joined = Curation.urlFilterJoin(d, block.toDF("domain"))
      .select("doc_id", "domain", "blocked").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(joined == lit0, "literal and join blocklist paths disagree")
  }

  test("url filter join: over-cap blocklist falls back to shuffle semi-join") {
    import spark.implicits._
    import graft.pipeline.Curation
    val block = Seq("example.com", "ads.tracker.net", "a.org", "b.org")
    val d = Seq(
      (1L, "https://www.Example.com/a?b=c"),
      (2L, "http://spam.example.com:8080/x"),
      (3L, "notexample.com/path"),
      (4L, "https://sub.site.org#frag")
    ).toDF("doc_id", "url")
    // auto-broadcast off → the only BroadcastExchange a plan can carry
    // is the explicit hint, making the strategy assertable
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = Curation.urlFilterJoin(d, block.toDF("domain"))
      val capped = Curation.urlFilterJoin(d, block.toDF("domain"),
        maxBroadcastEntries = 2L)
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"), "in-cap blocklist should broadcast")
      assert(!capped.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"),
        "over-cap blocklist must not be broadcast")
      def res(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "domain", "blocked").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      assert(res(capped) == res(hinted),
        "fallback semi-join changed the result")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("Misra-Gries heavy hitters are exact under forced decrements") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    // 40 'a', 25 'b', 10 'c', singles d..m: N = 85, phi=0.2 → cap=10,
    // threshold ceil(17) — answer {a, b}; cap < distinct terms per
    // partition forces the decrement path, and 2 partitions force the
    // cross-partition candidate union
    val words = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++
      Seq.fill(10)("c") ++ "defghijklm".map(_.toString)
    val shuffled = new scala.util.Random(7).shuffle(words)
    val d = shuffled.grouped(43).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(2)
    val got = TextAnalysis.heavyHitters(d, phi = 0.2).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq == Seq("a" -> 40L, "b" -> 25L))
  }

  test("heavyHitters reads the corpus exactly twice (sketch + recount)") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    // spy source: an accumulator counts partition evaluations, so
    // corpus scans are measured directly (round 7 paid a third scan
    // for the token total; it now rides the sketch pass)
    val acc = spark.sparkContext.longAccumulator("corpus-passes")
    val spy = Seq.tabulate(100)(i => (i.toLong, s"a b c d t${i % 7}"))
      .toDF("doc_id", "text").repartition(4)
      .as[(Long, String)]
      .mapPartitions { it => acc.add(1); it }
      .toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(spy, phi = 0.1).collect()
    assert(got.nonEmpty)
    assert(acc.value == 8,
      s"expected 2 scans x 4 partitions, saw ${acc.value} partition passes")
  }

  test("funnel walks the earliest ordered chain per user") {
    import spark.implicits._
    import graft.pipeline.Sessions
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(m * 60000L)
    val ev = Seq(
      // user 1 completes A->B->C, but the first B is BEFORE A: the
      // walk must pick the later B, then the C after it
      (1L, "B", ts(1)), (1L, "A", ts(2)), (1L, "B", ts(5)),
      (1L, "C", ts(4)), (1L, "C", ts(9)),
      // user 2 stalls at level 1 (its only B precedes A)
      (2L, "B", ts(1)), (2L, "A", ts(3)),
      // user 3 never starts
      (3L, "C", ts(1))
    ).toDF("user_id", "event_type", "ts")
    val got = Sessions.funnel(ev, Seq("A", "B", "C")).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getInt(4)))).toMap
    def us(m: Int) = Some(m * 60000000L)
    assert(got(1L) == ((us(2), us(5), us(9), 3)))
    assert(got(2L) == ((us(3), None, None, 1)))
    assert(got(3L) == ((None, None, None, 0)))
  }

  test("retention buckets users by first-activity week") {
    import spark.implicits._
    import graft.pipeline.Sessions
    import java.sql.Timestamp
    val week = 7L * 86400000L
    def ts(w: Int, off: Long = 0L) = new Timestamp(w * week + off)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(0, 5000)), (1L, ts(2)),  // cohort 0: wk 0,2
      (2L, ts(0, week - 1)), (2L, ts(1)),           // cohort 0: wk 0,1
      (3L, ts(1)), (3L, ts(3))                      // cohort 1: wk 1,3
    ).toDF("user_id", "ts")
    val got = Sessions.retention(ev, 7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (cohort, offset) -> users: two cohort-0 users at offset 0, one
    // each at offsets 1 and 2; cohort-1 user at offsets 0 and 2
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("salted join equals the plain join on a hot-key fixture") {
    import spark.implicits._
    import graft.ops.Joins
    // key 1 owns 90% of the fact — the skew shape salting exists for
    val fact = ((1 to 900).map(i => (i.toLong, 1L)) ++
      (1 to 100).map(i => (900L + i, (i % 5 + 2).toLong)))
      .toDF("row_id", "k")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
      (5L, "d"), (6L, "e"), (9L, "unmatched")).toDF("k", "tag")
    val salted = Joins.saltedJoin(fact, dim, "k", 8)
    val plain = fact.join(dim, Seq("k"))
    def rows(df: DataFrame) = df.select("row_id", "k", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows(salted) == rows(plain))
    // the join really distributes on (k, salt): the physical join keys
    // carry the salt column
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))
    // left form preserves unmatched fact rows
    val factExtra = fact.union(Seq((9999L, 77L)).toDF("row_id", "k"))
    val left = Joins.saltedJoin(factExtra, dim, "k", 8, how = "left")
    assert(left.count() == plain.count() + 1)
  }

  test("BGP build-side: the selective star pattern is broadcast") {
    // the reference hand-orders triple patterns by cardinality
    // (JenaArqExtensions.scala:83-170); the repo deliberately delegates
    // build-side choice to AQE — trust, but verify: a star BGP with
    // one selective constant-object pattern must broadcast THAT side,
    // and this pins it against a Spark default flip
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    val store = GraftStore.forDir(spark, Sf)
    val q = """PREFIX ont: <cmwell://ont#>
      |SELECT ?seg WHERE {
      |  ?c ont:custkey 42 . ?c ont:mktsegment ?seg }""".stripMargin
    val df = Sparql.select(store, q)
    assert(df.count() == 1) // the selective pattern is really selective
    def broadcasts(p: SparkPlan): Seq[SparkPlan] = {
      val self: Seq[SparkPlan] =
        p match { case b: BroadcastExchangeLike => Seq(b); case _ => Nil }
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children
      }
      self ++ kids.flatMap(broadcasts)
    }
    df.collect()
    val bs = broadcasts(df.queryExecution.executedPlan)
    assert(bs.nonEmpty,
      "star BGP with a selective pattern must plan a broadcast join " +
        "(regression: strategy flipped to sort-merge)")
    assert(bs.exists(_.toString.contains("custkey")) &&
      !bs.exists(_.toString.contains("mktsegment")),
      "the BROADCAST side must be the selective custkey pattern, " +
        "not the wide mktsegment scan")
  }

  test("bucketed quads: subject self-join needs no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val store = GraftStore.forDir(spark, Sf)
    TempDir("graft_bucketed") { d =>
      val dir = d.toString
      spark.sql("DROP TABLE IF EXISTS qb_test")
      GraftStore.materializeQuadsBucketed(store, dir, "qb_test", 8)
      def hop(q: DataFrame): DataFrame = {
        // the BGP STAR shape — ?c :refNation ?n . ?c :mktsegment ?seg —
        // both triples join on their SUBJECT, the bucketing key (a chain
        // step ?n :p ?r joins object-to-subject and legitimately keeps
        // one exchange for the unbucketed side)
        val a = q.where(col("predicate") === "refNation")
          .select(col("subject"), col("s").as("n"))
        val b = q.where(col("predicate") === "mktsegment")
          .select(col("subject"), col("s").as("seg"))
        a.join(b, "subject").select(col("n").as("c"), col("seg").as("r"))
      }
      def shuffles(df: DataFrame): Int = {
        df.collect()
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.QueryStageExec
        import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
        // AQE hides materialized exchanges inside leaf QueryStageExec
        // wrappers — a plain collect never sees them
        def walk(p: SparkPlan): Int = {
          val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
          val kids: Seq[SparkPlan] = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: QueryStageExec => Seq(q.plan)
            case r: ReusedExchangeExec => Seq(r.child)
            case o => o.children
          }
          self + kids.map(walk).sum
        }
        walk(df.queryExecution.executedPlan)
      }
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try {
        val bucketed = hop(spark.table("qb_test"))
        val plain = hop(store.quads)
        assert(shuffles(bucketed) == 0,
          "bucketed subject join must not shuffle")
        assert(shuffles(plain) > 0, "control: unbucketed join shuffles")
        assert(bucketed.collect().map(r => (r.getString(0), r.getString(1)))
          .sorted.toSeq ==
          plain.collect().map(r => (r.getString(0), r.getString(1)))
            .sorted.toSeq)
        // end-to-end: the SPARQL COMPILER over a bucketed-quads store
        // also plans the star BGP exchange-free (the bucketing survives
        // the compiler's scan projections and variable aliasing)
        val bstore = GraftStore.fromInfotons(spark, store.infotons,
            Some(store.fieldTypes))
          .withQuads(spark.table("qb_test"))
        val q = """PREFIX ont: <cmwell://ont#>
          |SELECT ?n ?seg WHERE {
          |  ?c ont:refNation ?n . ?c ont:mktsegment ?seg }""".stripMargin
        val viaSparql = Sparql.select(bstore, q)
        assert(shuffles(viaSparql) == 0,
          "SPARQL star BGP over bucketed quads must not shuffle")
        val viaPlain = Sparql.select(store, q)
        assert(viaSparql.collect().map(r => (r.getString(0), r.getString(1)))
          .sorted.toSeq ==
          viaPlain.collect().map(r => (r.getString(0), r.getString(1)))
            .sorted.toSeq)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS qb_test") // metadata only: the
        // table is external, TempDir deletes the bytes
      }
    }
  }

  test("containment pairs: prefix-filtered candidates == brute force, " +
      "asymmetry caught where jaccard misses") {
    import spark.implicits._
    // doc 2 is a verbatim QUOTE inside doc 1 (containment 1.0 in the
    // 2->1 direction; jaccard is small), doc 3 is unrelated, doc 4 is
    // a near-copy of doc 2 with one extra token
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "gamma delta epsilon zeta"),
      (3L, "one two three four five six"),
      (4L, "gamma delta epsilon zeta omega")
    ).toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.75, 1.0)) {
      val got = graft.pipeline.Dedup.containmentPairs(d, n = 2, tau = tau)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force over raw shingle sets
      def grams(s: String) = s.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val m = Map(1L -> grams("alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        2L -> grams("gamma delta epsilon zeta"),
        3L -> grams("one two three four five six"),
        4L -> grams("gamma delta epsilon zeta omega"))
      val want = (for {
        a <- m.keys; b <- m.keys if a != b
        if m(a).intersect(m(b)).size.toDouble / m(a).size >= tau
      } yield (a, b)).toSet
      assert(got == want, s"tau=$tau: $got vs $want")
    }
    // the asymmetric pair (2 contained in 1) exists; (1 in 2) doesn't
    val pairs = graft.pipeline.Dedup.containmentPairs(d, 2, 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 1L)) && !pairs.contains((1L, 2L)))
  }

  test("temperature rates: closed-form waterfilling == iterative " +
      "fixed point; budget realized in expectation") {
    import spark.implicits._
    import graft.pipeline.Curation
    // skewed synthetic corpus: shares 100/40/25/20/15 over 5 sources
    val sizes = Map("a" -> 100, "b" -> 40, "c" -> 25, "d" -> 20, "e" -> 15)
    val docs = sizes.toSeq.flatMap { case (k, n) =>
      (0 until n).map(i => (s"$k$i".hashCode.toLong, k))
    }.toDF("doc_id", "lang")
    for ((alpha, budget) <- Seq((0.5, 150L), (0.3, 120L), (1.0, 100L),
        (0.7, 500L))) {
      val got = Curation.temperatureRates(docs, "lang", alpha, budget)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(4))).toMap
      // brute-force fixed point: repeatedly cap rate>1 sources and
      // redistribute their leftover proportionally to target shares
      val n = sizes.view.mapValues(_.toDouble).toMap
      val tot = n.values.sum
      val qRaw = n.view.mapValues(v => math.pow(v / tot, alpha)).toMap
      val qSum = qRaw.values.sum
      val q = qRaw.view.mapValues(_ / qSum).toMap
      var cappedSet = Set.empty[String]
      var changed = true
      while (changed) {
        val r = budget.toDouble - cappedSet.toSeq.map(n).sum
        val qu = (q.keySet -- cappedSet).toSeq.map(q).sum
        val newly = (q.keySet -- cappedSet).filter(k =>
          r * q(k) / (qu * n(k)) >= 1.0)
        changed = newly.nonEmpty
        cappedSet ++= newly
      }
      val r = budget.toDouble - cappedSet.toSeq.map(n).sum
      val qu = (q.keySet -- cappedSet).toSeq.map(q).sum
      sizes.keys.foreach { k =>
        val want = if (cappedSet(k)) 1.0
          else math.min(1.0, r * q(k) / (qu * n(k)))
        val (gotN, gotRate) = got(k)
        assert(gotN == sizes(k))
        assert(math.abs(gotRate - want) < 1e-5,
          s"alpha=$alpha budget=$budget source=$k: $gotRate vs $want")
      }
      // expectation check: sum(rate * n) == min(budget, corpus)
      val expTotal = got.map { case (k, (nk, rk)) => nk * rk }.sum
      assert(math.abs(expTotal - math.min(budget.toDouble, tot)) < 0.01,
        s"alpha=$alpha budget=$budget: E[kept] $expTotal")
    }
  }

  test("PCA recovers a planted dominant direction") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // points along (1,1,0,0)/√2 with small noise on axis 3: PC1 must
    // align with the planted direction (up to sign) and the check row
    // must ground true
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val t = rnd.nextGaussian() * 10
      val n = rnd.nextGaussian() * 0.1
      (i.toLong, Array(t.toFloat, t.toFloat, n.toFloat, 0.0f).toSeq)
    }
    val d = rows.toDF("vec_id", "embedding")
    val comps = Similarity.pcaComponents(d, 2)
    val pc1 = comps.head
    val planted = Seq(1, 1, 0, 0).map(_ / math.sqrt(2))
    val align = math.abs(pc1.lazyZip(planted).map(_ * _).sum)
    assert(align > 0.999, s"PC1 misaligned: $pc1")
    val chk = Similarity.pcaCheck(d, c = 2).head()
    assert(chk.getBoolean(1) && chk.getBoolean(2) && chk.getBoolean(3))
  }

  test("lastModifiedBy range ops compare per comma token " +
      "(comma_analyzer parity)") {
    import spark.implicits._
    import graft.ingest.Merger
    def sv(v: String) = Merger.FieldValue(v, None, None, None,
      InfotonModel.TString, None, None)
    val t0 = T("2024-01-01 00:00:00")
    // /lmb/1 merges contributors {even, w} -> "even,w";
    // /lmb/2 merges {odd, w} -> "odd,w"
    val cmds = Seq(
      Merger.Command("write", "/lmb/1", t0, Map("a" -> Seq(sv("x"))),
        Map.empty, by = "even"),
      Merger.Command("write", "/lmb/1", t0, Map("b" -> Seq(sv("y"))),
        Map.empty, by = "w"),
      Merger.Command("write", "/lmb/2", t0, Map("a" -> Seq(sv("x"))),
        Map.empty, by = "odd"),
      Merger.Command("write", "/lmb/2", t0, Map("b" -> Seq(sv("y"))),
        Map.empty, by = "w")).toDS()
    val store = GraftStore.fromInfotons(spark,
      Merger.merge(spark, Ingest.emptyStore(spark), cmds))
    def q(qp: String): Set[String] = paths(Search.run(store,
      Search.Request(path = "/lmb", qp = Some(qp))))
    // > matches through ANY token: both docs carry "w" > "m", even
    // though the whole joined string "even,w" sorts BELOW "m" — the
    // discriminating case the whole-string comparison got wrong
    assert(q("system.lastModifiedBy>m") == Set("/lmb/1", "/lmb/2"))
    // < matches only where some token sorts below: "even" < "f";
    // {odd, w} has none
    assert(q("system.lastModifiedBy<f") == Set("/lmb/1"))
    // >> (>=) through an exact token; << (<=) through the low token
    assert(q("system.lastModifiedBy>>w") == Set("/lmb/1", "/lmb/2"))
    assert(q("system.lastModifiedBy<<even") == Set("/lmb/1"))
    // equality stays token-membership, not whole-string
    assert(q("system.lastModifiedBy::odd") == Set("/lmb/2"))
  }

  // ---- qp filters in generated code, per-directory point reads ----

  import graft.functions.SlotExists
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
    SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** Janino compiles while `run` executes. */
  private def compiles(run: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("a qp search's filter runs inside whole-stage codegen") {
    val store = GraftStore.forDir(spark, Sf)
    def search(status: String, price: Int, prio: String, lo: Int, hi: Int) =
      Search.search(store, Search.Request(path = "/orders",
        qp = Some(s"orderstatus::$status,totalprice>$price," +
          s"-orderpriority::$prio,[*custkey<<$lo,*custkey>>$hi]")), length = 10)
    val page = search("F", 1000, "1-URGENT", 50, 100)
    assert(page.count() == 10)
    page.collect()
    // the comparands are reference objects, not literals in the
    // generated code: new values in the same shape compile nothing
    assert(compiles(search("O", 2000, "2-HIGH", 60, 90).collect()) == 0)
    val filters = finalPlan(page).collect { case f: FilterExec => f }
    val native = filters.filter(_.condition.exists(_.isInstanceOf[SlotExists]))
    assert(native.nonEmpty, finalPlan(page).toString)
    val inStage = finalPlan(page).collect { case w: WholeStageCodegenExec =>
      w.collect { case f: FilterExec => f } }.flatten
    native.foreach(f => assert(inStage.contains(f),
      s"filter outside whole-stage codegen:\n${finalPlan(page)}"))
  }

  test("a point read pushes one IN per directory and skips other directories") {
    val store = GraftStore.forDir(spark, Sf)
    // 12 paths over 4 directories: one IN list would be a range from
    // /customer/… to /supplier/…, which spans /lineitem
    val keys = Seq("/customer/1", "/customer/7", "/customer/30",
      "/orders/1", "/orders/3", "/orders/4", "/orders/5", "/orders/6",
      "/part/2", "/part/9", "/supplier/1", "/supplier/3")
    def scanned(df: DataFrame): (Long, String) = {
      df.collect()
      val scan = finalPlan(df).collect { case s: FileSourceScanExec => s }.head
      (scan.metrics("numOutputRows").value, scan.metadata("PushedFilters"))
    }
    val read = Search.read(store, keys)
    assert(paths(read) == keys.toSet)
    val (rows, pushed) = scanned(read)
    Seq("/customer/", "/orders/", "/part/", "/supplier/").foreach { d =>
      assert(pushed.contains(s"In(system.path, [$d"), pushed)
    }
    // no /lineitem row group passes the per-directory filters
    def under(ps: String*) =
      store.infotons.where(col("system.parent").isin(ps: _*)).count()
    val dirs = under("/customer", "/orders", "/part", "/supplier")
    val lineitem = under("/lineitem")
    assert(rows < dirs + lineitem,
      s"scanned $rows rows; the four directories hold $dirs, /lineitem $lineitem")
    // one IN list over all twelve reads /lineitem's row groups too
    val (oneList, _) = scanned(store.current.where(col("system.path").isin(keys: _*)))
    assert(oneList >= dirs + lineitem)
    // other paths in the same directories compile no new code
    val others = Seq("/customer/2", "/customer/8", "/customer/31",
      "/orders/2", "/orders/7", "/orders/8", "/orders/9", "/orders/10",
      "/part/3", "/part/10", "/supplier/2", "/supplier/4")
    assert(compiles(Search.read(store, others).collect()) == 0)
  }
}
