package graft

import graft.ops.Caches
import graft.pipeline.{Candidates, Curation, Dedup, Multimodal, Sessions,
  Similarity, TextAnalysis}
import graft.pipeline.Candidates.{l, r}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for the training-data-pipeline operators (dedup /
  * similarity / text analysis) over the `documents` and `embeddings`
  * tables. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The hot boilerplate phrase the q_*_skew queries prepend to every
    * tenth document (and tools/make_skew.py plants in the skewed sf1
    * twin): 13 tokens whose shingles reach document frequency ~n/10 —
    * the template-header/cookie-banner shape of real web crawls. */
  private val HotPhrase = "common boilerplate header inserted by the " +
    "portal template engine every single render pass"
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The exact-jaccard pair set and its connected components feed
    * THREE declared reads (q_dedup_jaccard, q_dedup_clusters,
    * q_pipeline_clean). In deployment the pair table and the cluster
    * assignment are materialized once per corpus snapshot and queried
    * many times — so they're computed and persisted once per session
    * and sf dir, like the merge family's mergedStore. Only the pairs
    * and the clusters stay: the indexes their builds persist go with
    * the building query's release. */
  private def jaccard(s: SparkSession, dir: String): DataFrame =
    Caches.perSession(s, s"jaccard:$dir") {
      val p = Dedup.jaccardPairs(docs(s, dir), n = 2, tau = 0.8)
      val kept = Caches.sessionLifetime(Caches.persist(p))
      kept.count()
      kept
    }
  private def clusters(s: SparkSession, dir: String): DataFrame =
    Caches.perSession(s, s"clusters:$dir") {
      // sessionLifetime: the persisted clusters sit on the final round's
      // local checkpoint, which cannot be recomputed once released
      val cc = Caches.sessionLifetime(Caches.persist(Dedup.connectedComponents(
        jaccard(s, dir).select(col("d1").as("v1"), col("d2").as("v2")))))
      cc.count()
      cc
    }

  /** Bounded grounding contract for the quadratic exact anchors.
    *
    * The exact all-pairs baselines (embedding dup pairs, LSH recall
    * grounding) exist to make the approximate SCALE PATH oracle-
    * checkable — they are quadratic BY CONSTRUCTION and must not
    * dominate the sf-trend bench the scale path is measured by (at
    * sf1 the two anchors were 57 s of a 353 s total, growing as n²).
    * So the anchor runs over a DETERMINISTIC sample of at most
    * [[GroundCap]] vectors: the FULL set at the oracle sf (500
    * vectors at sf0.01 — declared-query rows unchanged, the
    * correctness gate sees the exact anchor) and at the driver bench
    * sf (2000 at sf0.1), and a hash-stride sample at larger sf where
    * the trend line should measure the approximate path, not the
    * anchor. Stride selection is `xxhash64(vec_id) % stride == 0` —
    * deterministic across runs and engines, no RNG. */
  private val GroundCap = 2000L
  private def groundSample(e: DataFrame): DataFrame = {
    val n = e.count()
    if (n <= GroundCap) e
    else {
      val stride = ((n + GroundCap - 1) / GroundCap).toInt
      e.where(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
    }
  }

  /** The (v1, v2) pairs with both ids in `sample`'s `vec_id`. */
  private def bothIn(pairs: DataFrame, sample: DataFrame): DataFrame =
    pairs
      .join(sample.select(col("vec_id").as("v1")), Seq("v1"), "left_semi")
      .join(sample.select(col("vec_id").as("v2")), Seq("v2"), "left_semi")

  /** One deterministic TRUE near-dup per sample vector, at vec_id +
    * [[PlantBase]]: a ±30% per-dimension scaling (cosine ≈ 1/√1.09 ≈
    * 0.958 to its source — the realistic almost-identical-duplicate
    * shape). The synthetic corpus carries NO pairs above cosine ~0.51,
    * so a production-threshold (τ=0.9) truth set would otherwise be
    * EMPTY and any recall contract vacuous. The per-dimension sign is
    * plain modular arithmetic — (id·131 + i·7919) mod 1000003 mod 2,
    * odd modulus so the parity is mixed — NOT a JVM-only hash, so the
    * DuckDB oracle reproduces the planted bytes exactly (float32
    * round-trip included: both sides scale in double over the exact
    * double value of the float32 element, then round to float32). */
  private[graft] val PlantBase = 1000000000000L
  private[graft] def plantDups(sample: DataFrame): DataFrame =
    sample.select(col("vec_id").as("src"),
      (col("vec_id") + lit(PlantBase)).as("vec_id"),
      zip_with(col("embedding"),
        sequence(lit(1L), size(col("embedding")).cast("long")),
        (x, i) => (x * (lit(1.0) + lit(0.3) *
          when((((col("vec_id") + lit(PlantBase)) * 131 + i * 7919)
              % 1000003) % 2 === 0, lit(1.0)).otherwise(lit(-1.0))))
          .cast("float")).as("embedding"))

  /** Shared ranking-comparison scaffold: the primary ranking's top-1
    * per query plus the size of the intersection between its member
    * set and `other`'s (query_id, neighbor_id) set. One copy of the
    * overlap-measurement logic — [[annCheck]] and q_embed_truncate
    * both ride it. */
  private def rankOverlap(primary: DataFrame, other: DataFrame,
                          top1Name: String): DataFrame = {
    val overlap = primary.select("query_id", "neighbor_id")
      .join(other.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    primary.where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as(top1Name))
      .join(overlap, Seq("query_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
  }

  /** Grounded ANN check row set: per query vector, the EXACT top-1
    * neighbor (reproduced independently by the DuckDB oracle) plus a
    * boolean asserting the approximate top-k overlaps the exact top-k
    * at >= minOverlap — recall measured against the engine's own exact
    * ranking, grounded through the oracle's top-1 agreement. */
  private def annCheck(e: DataFrame, approx: DataFrame,
                       minOverlap: Int): DataFrame =
    rankOverlap(Similarity.cosineTopK(e, Seq(0L, 1L, 2L), 5)
        .select("query_id", "rank", "neighbor_id"), approx, "exact_top1")
      .select(col("query_id"), col("exact_top1"),
        (col("n_overlap") >= minOverlap).as("recall_ok"))
      .orderBy("query_id")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup (hash-groupBy on content digest)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).select("keep_id", "copies")
        .orderBy("keep_id")),

    // n-gram (bigram) Jaccard near-dup pairs — EXACT result via
    // prefix-filtered candidate generation (no all-pairs join)
    "q_dedup_jaccard" -> ((s, dir) =>
      jaccard(s, dir).orderBy("d1", "d2")),

    // SKEWED Jaccard dedup: a fixed 13-token boilerplate phrase
    // prepended to every tenth document (template headers, cookie
    // banners — the hot-shingle shape of real crawls) gives ~13
    // bigrams document frequency n/10. The naive inverted-index join
    // would pay sum(df²) ≈ (n/10)² rows PER hot shingle; the prefix
    // filter's rarity order keeps hot shingles out of every prefix,
    // so the candidate join must stay near the uniform query's size.
    // Oracle = the exact recount over the same remapped corpus.
    "q_dedup_jaccard_skew" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir).withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(lit(HotPhrase + " "), col("text")))
            .otherwise(col("text"))), n = 2, tau = 0.8)
        .orderBy("d1", "d2")),

    // MinHash+LSH near-dup pairs (banded bucket join + exact verify);
    // oracle = the exact-jaccard pair set (recall at j≈0.99 with
    // 128 hashes / 32 bands is 1 - (1-j^4)^32 ≈ 1)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), n = 2, numHashes = 128, bands = 32,
        tau = 0.8).select("d1", "d2").orderBy("d1", "d2")),

    // INCREMENTAL MinHash: docs with id%10==7 arrive as a new batch
    // against the rest's band-bucket index — every near-dup pair
    // involving a batch doc, batch×corpus and batch×batch, with the
    // corpus text touched only for candidate members. Oracle: the
    // exact pair set restricted to batch-involving pairs (banding at
    // these parameters has full recall on this corpus, same as
    // q_dedup_minhash).
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val d = docs(s, dir)
      // a doc's signature depends only on its own shingles, so the
      // corpus index is a FILTER over the full band index — the same
      // written artifact q_dedup_minhash materializes (shared cached
      // signature frame), partition-filtered exactly like a stored
      // index would be
      val full = Dedup.minhashBandIndex(d)
      Dedup.incrementalMinhash(d.where(col("doc_id") % 10 =!= 7),
          full.where(col("doc_id") % 10 =!= 7),
          d.where(col("doc_id") % 10 === 7))
        .select("d1", "d2").orderBy("d1", "d2")
    }),

    // near-dup CLUSTERS: connected components over the exact jaccard
    // pair set — (member, root=min id); keep-one-per-cluster is
    // `member == root`. Oracle: recursive-CTE min-reachability.
    "q_dedup_clusters" -> ((s, dir) =>
      clusters(s, dir).orderBy("member")),

    // cluster-REPRESENTATIVE selection: keep the best-scoring member
    // per near-dup cluster (score = n_chars here; quality in a real
    // run) — the "keep best, not first" dedup finish. Window over the
    // cluster-member table only (drop-set-sized).
    "q_dedup_canonical" -> ((s, dir) =>
      Dedup.canonical(clusters(s, dir),
          docs(s, dir).select(col("doc_id"), col("n_chars")), "n_chars")
        .orderBy("root")),

    // SOFT dedup: reweight instead of drop — every cluster member kept
    // at weight 1/|cluster| (content seen once in expectation),
    // singletons at 1.0; the sampling-weight counterpart of canonical
    "q_dedup_soft" -> ((s, dir) =>
      Dedup.softWeights(clusters(s, dir), docs(s, dir)).orderBy("doc_id")),

    // per-source corpus dashboard: doc/token/char mass + exact-dup
    // rate in one scan + one groupBy
    "q_corpus_report" -> ((s, dir) =>
      Curation.corpusReport(docs(s, dir)).orderBy("source")),

    // per-source token-length quantiles (exact interpolated
    // percentiles — the length-distribution report batch-shape
    // planning reads; approx_percentile is the documented 100 TB
    // variant of the same plan)
    "q_length_quantiles" -> ((s, dir) =>
      Curation.lengthQuantiles(docs(s, dir))),

    // the composed cleaning pipeline — quality gate + near-dup
    // cluster keep-one in a single job: the end-to-end shape a
    // training-data run takes (filter → pair → cluster → anti-join;
    // the anti-join is drop-set-sized, never corpus×corpus)
    "q_pipeline_clean" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepQ = TextAnalysis.quality(d)
        .where(col("n_tokens") >= 5 && col("repetition") <= 0.5)
        .select("doc_id")
      val dropDup = clusters(s, dir)
        .where(col("member") =!= col("root"))
        .select(col("member").as("doc_id"))
      keepQ.join(dropDup, Seq("doc_id"), "left_anti").orderBy("doc_id")
    }),

    // the FULL curation pipeline composed end-to-end in one job:
    // quality gate → near-dup cluster keep-one → benchmark
    // decontamination → per-source quota → context-window packing.
    // Every stage is an already-oracle-checked operator; this query
    // checks their COMPOSITION against the same chain in SQL.
    "q_pipeline_full" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepQ = TextAnalysis.quality(d)
        .where(col("n_tokens") >= 5 && col("repetition") <= 0.5)
        .select("doc_id")
      val dropDup = clusters(s, dir)
        .where(col("member") =!= col("root"))
        .select(col("member").as("doc_id"))
      val cont = Curation.contaminated(d, d.where(col("doc_id") % 50 === 0),
        n = 8)
      val kept = d.join(keepQ, Seq("doc_id"))
        .join(dropDup, Seq("doc_id"), "left_anti")
        .join(cont, Seq("doc_id"), "left_anti")
      Curation.packSequences(
          Curation.quotaSample(kept, "source", quota = 10),
          "source", budget = 256)
        .select("key", "doc_id", "bin").orderBy("key", "doc_id")
    }),

    // gap-based sessionization of the event stream (native
    // session_window merge — no per-user sort pass); oracle = the
    // relational lag/gap-sum island formulation
    "q_sessionize" -> ((s, dir) =>
      Sessions.sessionize(graft.model.TableLoader.events(s, dir), 30)
        .orderBy("user_id", "start_us")),

    // SKEWED sessionization — the Zipf shape uniform replicas can't
    // probe: every fifth event is remapped to ONE hot user (20% of
    // the stream in a single session_window group; real corpora have
    // bot/crawler users exactly like this). Same operator, same
    // oracle formulation over the remapped stream — the hot group's
    // session chain is hash-pinned, not just timed. The remap is
    // deterministic in event_id so engine and oracle agree row-for-row.
    "q_sessionize_skew" -> ((s, dir) =>
      Sessions.sessionize(graft.model.TableLoader.events(s, dir)
          .withColumn("user_id", when(col("event_id") % 5 === 0, lit(1L))
            .otherwise(col("user_id"))), 30)
        .orderBy("user_id", "start_us")),

    // INTERVAL OVERLAP JOIN: user sessions × 8 deterministic
    // maintenance windows spanning the event range — per window, how
    // many sessions overlap it. Bucketed equi-join (1 h buckets) with
    // the one-bucket pair dedup; the oracle recomputes sessions,
    // windows and the naive overlap count relationally.
    "q_overlap_join" -> ((s, dir) => {
      val ev = graft.model.TableLoader.events(s, dir)
      val sess = Sessions.sessionize(ev, 30)
        .select(col("start_us"), col("last_us"))
      val Array(r) = ev.agg(unix_micros(min(col("ts"))).as("lo"),
        unix_micros(max(col("ts"))).as("hi")).collect(): @unchecked
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (step, width) = ((hi - lo) / 10, (hi - lo) / 12)
      val wins = s.range(8).select(col("id").as("window_id"),
        (lit(lo) + col("id") * lit(step)).as("w_start"),
        (lit(lo) + col("id") * lit(step) + lit(width)).as("w_end"))
      val hits = Sessions.overlapJoin(sess, wins,
          "start_us", "last_us", "w_start", "w_end",
          bucketWidth = 3600000000L)
        .groupBy("window_id").agg(count(lit(1)).as("n"))
      wins.join(hits, Seq("window_id"), "left")
        .select(col("window_id"),
          coalesce(col("n"), lit(0L)).as("n_sessions"))
        .orderBy("window_id")
    }),

    // AS-OF join: each purchase attributed to the user's latest view
    // at-or-before it (union + per-key carry-forward — one sort, no
    // O(n·m) intermediate); oracle = DuckDB's native ASOF LEFT JOIN
    // FORWARD as-of: each purchase attributed to the user's NEXT
    // error at-or-after it (time-to-next-error attribution) — the
    // mirrored carry (following frame, first()); oracle = correlated
    // min-ts subqueries with the same (ts, event_id) tie-break
    "q_asof_forward" -> ((s, dir) => {
      val ev = graft.model.TableLoader.events(s, dir)
      Sessions.asofJoinForward(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "error"),
          payloadCols = Seq("event_id", "value"), outPrefix = "err_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("err_event_id"), col("err_value"))
        .orderBy("event_id")
    }),

    "q_asof_join" -> ((s, dir) => {
      val ev = graft.model.TableLoader.events(s, dir)
      Sessions.asofJoin(
          ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.where(col("event_type") === "view"),
          payloadCols = Seq("event_id", "value"), outPrefix = "view_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("view_event_id"), col("view_value"))
        .orderBy("event_id")
    }),

    // bucketed RANGE join: errors within 15 minutes after each
    // purchase, per user — the inequality join re-expressed as a
    // 2-bucket equi-join so it shuffles/AQEs like any hash join
    "q_range_join" -> ((s, dir) => {
      val ev = graft.model.TableLoader.events(s, dir)
      Sessions.rangeCount(
          ev.where(col("event_type") === "purchase"),
          ev.where(col("event_type") === "error"), horizonMinutes = 15)
        .orderBy("event_id")
    }),

    // SimHash near-dup pairs (16-bit chunk blocking, hamming <= 3).
    // The hash itself is engine-specific, so the oracle-checkable
    // contract is the EXACT-DUPLICATE RECALL property: every pair of
    // identical documents (DuckDB counts them independently via md5)
    // must surface with hamming 0 — n_missed is a real anti-join, not
    // an assumption. Pair-level shape is ScalaTest-oracled.
    "q_dedup_simhash" -> ((s, dir) => {
      val d = docs(s, dir)
      val sp = Dedup.simhashPairs(d, maxHamming = 3)
      val dig = d.select(col("doc_id"), md5(col("text")).as("dg"))
      val dup = Candidates.pairs(dig, dig, Seq("dg"),
        l("doc_id") < r("doc_id"))(l("doc_id").as("d1"), r("doc_id").as("d2"))
      val missed = dup.join(sp.where(col("hamming") === 0)
        .select("d1", "d2"), Seq("d1", "d2"), "left_anti")
      dup.agg(count(lit(1)).as("n_exactdup"))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
    }),

    // embedding-cosine near-dup pairs — exact quadratic ANCHOR
    // (oracle = the same all-pairs join in SQL), bounded by the
    // groundSample contract: full set at the gated sfs, hash-stride
    // sample beyond GroundCap vectors so the sf trend doesn't measure
    // n². The scale path is the LSH-blocked variant below.
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingDupPairs(groundSample(emb(s, dir)), tau = 0.4)
        .select("v1", "v2").orderBy("v1", "v2")),

    // embedding-cosine near-dup pairs via multi-table LSH blocking +
    // exact verify. Oracle-checkable contract: DuckDB independently
    // counts the exact pair set (n_exact must match the engine's
    // quadratic anchor); the LSH pair set must be a SUBSET of it
    // (n_extra = 0 — precision 1.0 by construction, verified by a real
    // anti-join) with bounded miss rate (seeded planes → deterministic
    // recall; 0.19 at sf0.01, asserted under 0.25).
    // The LSH path always runs over the FULL corpus (it IS the scale
    // path the bench measures); the exact anchor and both anti-joins
    // are restricted to the groundSample — the full set at the gated
    // sfs, a bounded sample beyond, so the grounded query's sf trend
    // tracks the LSH path rather than the n² anchor. Production is
    // embeddingDupPairsLsh ALONE, at a near-dup threshold (tau 0.9+)
    // where more planes per table make the blocking strong; the demo
    // tau=0.4 is deliberately loose so the pair set is non-trivial at
    // sf0.01.
    "q_dedup_embedding_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val g = Caches.persist(groundSample(e))
      val lsh = Dedup.embeddingDupPairsLsh(e, tau = 0.4).select("v1", "v2")
      // precision/recall are measured on pairs with BOTH endpoints in
      // the grounding sample (== all pairs at the gated sfs).
      // lshG/exact are persisted (pair-set sized): lshG feeds both
      // anti-joins and exact feeds those plus its own count — Catalyst
      // inlines each reference, so the LSH mining and the quadratic
      // anchor otherwise re-ran per consumer
      val lshG = Caches.persist(bothIn(lsh, g))
      val exact = Caches.persist(
        Dedup.embeddingDupPairs(g, tau = 0.4).select("v1", "v2"))
      val extra = lshG.join(exact, Seq("v1", "v2"), "left_anti")
      val missed = exact.join(lshG, Seq("v1", "v2"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(extra.agg(count(lit(1)).as("n_extra")))
        .crossJoin(missed.agg(count(lit(1)).as("n_miss")))
        .select(col("n_exact"), col("n_extra"),
          (col("n_miss") <= lit(0.25) * col("n_exact")).as("recall_ok"))
    }),

    // PRODUCTION-threshold (τ=0.9) near-dup mining through the
    // theory-true autoKL (k, L) sizing — the regime the τ=0.4 demo
    // above deliberately is not. The corpus has no natural pairs at
    // 0.9, so the query PLANTS one true near-dup per grounded-sample
    // vector ([[plantDups]] — deterministic, SQL-reproducible) and
    // the oracle independently recomputes the planted truth set:
    // n_planted/n_true are hash-pinned, recall_ok pins the measured
    // planted-pair recall against the 0.7 modeled floor (delivered
    // recall at the planted cosine ~0.958 runs ~0.9; the probe
    // measured 0.88/0.95/0.95 across three decades), n_extra = 0 pins
    // precision 1.0 via a real anti-join against the exact pair set
    // of the sample universe. Promoted from the r16 probe
    // x_dedup_emb_lsh_prod so the recall evidence is oracle-pinned
    // EVERY gate, not once per probe session.
    "q_dedup_embedding_prod" -> ((s, dir) => {
      val e0 = emb(s, dir).select("vec_id", "embedding")
      // g is referenced five times below (plant source, truth join,
      // exact-anchor union, both lshG endpoint semis) and planted
      // three — persist both (sample-sized) so the sample scan and
      // the planted-vector synthesis run once, not per reference
      val g = Caches.persist(groundSample(e0))
      val planted = Caches.persist(plantDups(g))
      val p = planted.select("vec_id", "embedding")
      val e = e0.unionByName(p)
      // one mining pass, materialized: three consumers below would
      // otherwise re-run the corpus shuffle (the probe measured
      // ENOSPC from exactly that at 5M vectors)
      val lsh = Caches.localCheckpoint(
        Dedup.embeddingDupPairsLsh(e, tau = 0.9, tables = 0)
          .select("v1", "v2"))
      // planted truth pairs with their exact cosine — the recall
      // denominator (a plant whose true cosine lands under τ can
      // never be mined and must not count as a miss)
      val truth = Caches.persist(planted.alias("p")
        .join(g.alias("g"), col("p.src") === col("g.vec_id"))
        .select(col("g.vec_id").as("v1"), col("p.vec_id").as("v2"),
          round(Similarity.cosineFixed(col("g.embedding"),
            col("p.embedding")), 6).as("cosine")))
      val truthTrue = truth.where(col("cosine") >= 0.9).select("v1", "v2")
      val found = truthTrue.join(lsh, Seq("v1", "v2"), "left_semi")
      val su = Caches.persist(g.unionByName(p))
      val exact = Dedup.embeddingDupPairs(su, tau = 0.9).select("v1", "v2")
      val lshG = bothIn(lsh, su)
      val extra = lshG.join(exact, Seq("v1", "v2"), "left_anti")
      truth.agg(count(lit(1)).as("n_planted"))
        .crossJoin(truthTrue.agg(count(lit(1)).as("n_true")))
        .crossJoin(extra.agg(count(lit(1)).as("n_extra")))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_planted"), col("n_true"), col("n_extra"),
          (col("n_found") >= lit(0.7) * col("n_true")).as("recall_ok"))
    }),

    // deterministic distributed Lloyd k-means over the embeddings —
    // the declared clustering operator (init = 10 lowest-id vectors,
    // 2 update rounds, 6-decimal centroid grid); the oracle re-runs
    // the identical iterations as a CTE chain
    "q_kmeans" -> ((s, dir) =>
      Similarity.kmeans(emb(s, dir), k = 10, iters = 2)
        .orderBy("vec_id")),

    // SEMANTIC dedup (SemDeDup): cosine pairs compared only within a
    // k-means cluster — the trained-partition scale path; the oracle
    // recomputes clusters AND pairs independently. 25 of the 59 exact
    // pairs at sf0.01 are within-cluster (recall is the measured
    // cross-cluster tradeoff, precision 1.0 by exact verify)
    // k scales with the corpus (~50 vectors per cluster, floor 10 =
    // the oracle's k at sf0.01's 500 vectors) — SemDeDup's whole point
    // is that within-cluster pair work stays LINEAR in n because
    // cluster size is a constant, which a fixed k would forfeit (n²/k
    // at sf1 was 40M pairs)
    "q_dedup_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      val k = math.max(10L, e.count() / 50L).toInt
      Dedup.semanticPairs(e, tau = 0.4, k = k, iters = 2)
        .orderBy("cluster", "v1", "v2")
    }),

    // the SCALE-SAFE SemDeDup (two-level assignment + capped k +
    // in-cluster LSH past the squarable bound): the declared form of
    // the production shape the flat contract above cannot reach — its
    // k = n/50 flat argmin is Θ(n²/50) BY CONSTRUCTION (measured
    // 14.4× for one 10× decade). The oracle mirrors the full
    // two-level pipeline term for term: distributed fine Lloyd,
    // driver Lloyd over the fine centroids, top-P nearest non-empty
    // coarse cells (multi-probe routing — top-1 squared the cell-
    // boundary misroute into pair loss, measured 0.81 -> 0.52 planted
    // recall), argmin across the probed cells' children, exact
    // in-cluster pairs. At sf0.01 (n=500): k=10 fine, 4 coarse
    // cells, 2 probes.
    "q_dedup_semantic_2l" -> ((s, dir) =>
      Dedup.semanticPairs2L(emb(s, dir), tau = 0.4)
        .orderBy("cluster", "v1", "v2")),

    // brute-force cosine top-5 neighbors for three query vectors
    "q_knn" -> ((s, dir) =>
      Similarity.cosineTopK(emb(s, dir), Seq(0L, 1L, 2L), 5)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")),

    // LSH-bucketed ANN (scale path). Oracle-checkable contract per
    // query: the engine's exact top-1 neighbor must equal DuckDB's
    // independent ranking, and the ANN top-5 must overlap the exact
    // top-5 at >= 4/5 (seeded planes → deterministic; ScalaTest holds
    // the pair-level recall ablation)
    "q_knn_lsh" -> ((s, dir) =>
      annCheck(emb(s, dir), Similarity.lshTopK(emb(s, dir),
        Seq(0L, 1L, 2L), 5, tables = 8), minOverlap = 4)),

    // IVF ANN (trained coarse quantizer, nprobe/nlist of the corpus
    // scanned) — same grounded contract, looser overlap (cell methods
    // on the near-uniform synthetic corpus are the adversarial case)
    "q_knn_ivf" -> ((s, dir) =>
      annCheck(emb(s, dir), Similarity.ivfTopK(emb(s, dir),
        Seq(0L, 1L, 2L), 5), minOverlap = 3)),

    // SQ8-compressed kNN: int8 scalar-quantized index (4× smaller
    // scan), exact cosine on the reconstruction — quantization error
    // is the only accuracy loss, so the top-5 must stay >= 4/5 of the
    // float exact set; exact top-1 grounded by the oracle as usual
    "q_knn_sq8" -> ((s, dir) =>
      annCheck(emb(s, dir), Similarity.sq8TopK(emb(s, dir),
        Seq(0L, 1L, 2L), 5), minOverlap = 4)),

    // incremental exact dedup: the batch (doc_id >= 250) joins the
    // corpus digest INDEX (doc_id < 250) plus itself — the growing-
    // corpus shape where corpus×corpus never reruns
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalExact(
          Dedup.digestIndex(d.where(col("doc_id") < 250)),
          d.where(col("doc_id") >= 250))
        .select("doc_id").orderBy("doc_id")
    }),

    // the SAME incremental-dedup contract through the Bloom sketch
    // path: a distributed-built Bloom filter over the corpus index
    // splits the batch at scan time (definitely-new rows skip the
    // verify join entirely); result must be EXACTLY the join-based
    // answer — same oracle SQL as q_dedup_incremental
    "q_dedup_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomIncremental(
          Dedup.digestIndex(d.where(col("doc_id") < 250)),
          d.where(col("doc_id") >= 250))
        .select("doc_id").orderBy("doc_id")
    }),

    // corpus-level paragraph dedup (RefinedWeb line-dedup): every
    // duplicated line occurrence across the corpus removed except the
    // first by (doc_id, idx); docs reassembled from surviving lines.
    // The single-line corpus is re-lined deterministically (4-word
    // lines, same regex both sides) so cross-doc duplicate lines exist
    "q_dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(docs(s, dir).withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){3}\\S+) ", "$1\n")))
        .orderBy("doc_id")),

    // TF-IDF keyword extraction: top-3 terms per doc by smoothed
    // tf-idf — the topic-labeling / index-term surface
    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(docs(s, dir), k = 3)
        .orderBy("doc_id", "rank")),

    // exact-substring SPAN REMOVAL (Lee et al. 2022): later
    // occurrences of any duplicated 16-token window are cut and docs
    // rebuilt — the production consumer of the gram index, no pair
    // enumeration (q_dedup_substring is the audit/report surface)
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.substringSpanRemoval(docs(s, dir), n = 16)
        .orderBy("doc_id")),

    // per-source quota sampling: keep at most 5 docs per source under
    // a deterministic pseudo-random order (md5 of the id) — the
    // domain-cap / training-mix lever, reproducible and order-unbiased
    "q_quota_sample" -> ((s, dir) =>
      Curation.quotaSample(docs(s, dir), "source", quota = 5)
        .select("doc_id", "source").orderBy("doc_id")),

    // PII redaction: the corpus carries no natural PII (verified), so
    // the query injects synthetic email/phone/IP per doc IDENTICALLY
    // on both sides — the oracle check is then a non-vacuous
    // cross-engine regex-semantics parity test (Java regex vs RE2)
    "q_redact_pii" -> ((s, dir) => {
      val injected = docs(s, dir).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-1234 from 10.0.0."),
          (col("doc_id") % 256).cast("string")))
      Curation.redact(injected)
        .select(col("doc_id"), col("redacted"),
          col("n_email").cast("long").as("n_email"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ipv4").cast("long").as("n_ipv4"))
        .orderBy("doc_id")
    }),

    // benchmark decontamination: docs sharing any word 8-gram with the
    // benchmark slice (doc_id % 50 == 0 stands in for an eval suite)
    // are flagged — the leakage guard before training
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.contaminated(d, d.where(col("doc_id") % 50 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // curriculum shard assignment: rank by n_chars desc, deal
    // round-robin into 4 shards — stratified shards + in-shard score
    // order, with the global rank computed by range partition + prefix
    // offsets (never a single-partition window)
    "q_curriculum" -> ((s, dir) =>
      Curation.curriculumShards(docs(s, dir), "n_chars", shards = 4)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("rank"), col("shard"))
        .orderBy("doc_id")),

    // contamination FRACTION (GPT-3/PaLM appendix metric): per doc,
    // share of its distinct word 8-grams found in the benchmark slice
    // — the graded refinement of the boolean flag above
    "q_contamination_frac" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.contaminationFraction(d,
          d.where(col("doc_id") % 50 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // asymmetric CONTAINMENT pairs (quote/subset detection): ordered
    // pairs with |A∩B|/|A| >= 0.9 over bigram shingles — exact via
    // the containment prefix filter, verified; the directional
    // refinement Jaccard misses (a short doc quoted inside a long one)
    "q_dedup_containment" -> ((s, dir) =>
      // trigram shingles, deliberately: the synthetic corpus has only
      // 931 distinct BIGRAMS (every shingle hot — the inverted-index
      // join materializes ~30M witness rows, 20 s at sf0.1), while its
      // trigram vocabulary is 27k (sparse df, the join is tiny); a
      // quote is a contiguous span, so trigram containment detects
      // exactly the same subset relation
      Dedup.containmentPairs(docs(s, dir), n = 3, tau = 0.9)
        .select(col("d1"), col("d2"),
          round(col("containment"), 6).as("containment"))
        .orderBy("d1", "d2")),

    // SKEWED containment: the same hot-phrase corpus as
    // q_dedup_jaccard_skew under the asymmetric containment filter —
    // the exact case whose A-prefix-only candidate join exploded to
    // ~10M rows in development (hot trigrams sort LAST in rarity
    // order; the BOTH-prefix pigeonhole is what excludes them). The
    // declared row keeps that defense pinned against regression.
    "q_dedup_containment_skew" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir).withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(lit(HotPhrase + " "), col("text")))
            .otherwise(col("text"))), n = 3, tau = 0.9)
        .select(col("d1"), col("d2"),
          round(col("containment"), 6).as("containment"))
        .orderBy("d1", "d2")),

    // FUZZY decontamination: near-dup leakage the exact 8-gram flag
    // misses — corpus docs whose bigram Jaccard vs ANY benchmark doc
    // reaches 0.5, found via the benchmark's BROADCAST band index +
    // exact candidate verify (the corpus never self-joins)
    "q_decontaminate_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.fuzzyContaminated(d, d.where(col("doc_id") % 50 === 0),
          n = 2, tau = 0.5)
        .orderBy("doc_id")
    }),

    // per-source lexical diversity: the corpus-balance dashboard
    // (token volume, vocabulary, TTR, Shannon entropy per source)
    "q_source_diversity" -> ((s, dir) =>
      TextAnalysis.sourceDiversity(docs(s, dir), "source")
        .orderBy("key")),

    // Zipf rank-frequency slope over the top-1000 vocabulary — the
    // naturalness gauge (templated/synthetic corpora drift off the
    // ~-1 power law); regression inputs are k points at any scale
    "q_zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(docs(s, dir), k = 1000)),

    // greedy sequence packing into 256-token context windows per
    // source — the pretraining batch-packing shape; oracle = the same
    // greedy scan as a recursive CTE
    "q_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(docs(s, dir), "source", budget = 256)
        .select(col("key"), col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy("key", "doc_id")),

    // Gopher-style repetition signals; the corpus is single-line, so
    // the query deterministically re-lines it (newline after every 3rd
    // word, same regex on both sides) to make the line metrics
    // non-vacuous — the word-n-gram metrics use the raw token stream
    // either way (newlines are tokenizer whitespace)
    "q_quality_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir).withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){2}\\S+) ", "$1\n")))
        .orderBy("doc_id")),

    // deterministic hash split: bucket 0..255 from md5(salt:id) hex,
    // ≈96/2/2% train/val/test — stable under corpus growth, portable
    "q_corpus_split" -> ((s, dir) =>
      Curation.hashSplit(docs(s, dir))
        .select("doc_id", "bucket", "split").orderBy("doc_id")),

    // SENTENCE segmentation: the synthetic corpus has no sentence
    // punctuation, so both sides inject terminators deterministically
    // (every " a " becomes ". "), then segment with the shared
    // RE2-portable run pattern — one row per (doc, sent_idx, sentence)
    "q_sentences" -> ((s, dir) =>
      TextAnalysis.sentences(
          docs(s, dir).withColumn("text",
            regexp_replace(col("text"),
              java.util.regex.Pattern.quote(" a "), ". ")))
        .orderBy("doc_id", "sent_idx")),

    // SCRIPT detection: per-doc writing-system character profile +
    // dominant script — the router that picks the analyzer chain
    // (Cyrillic → Russian, Han/Kana → Cjk) before any language-id.
    // One codegen'd projection, no shuffle.
    "q_script_profile" -> ((s, dir) =>
      TextAnalysis.scriptProfile(docs(s, dir)).orderBy("doc_id")),

    // TEXT NORMALIZATION (the pre-dedup web-pipeline stage): each doc
    // is deterministically wrapped in markup noise (tags, entities, a
    // control char, extra blank lines), then normalizeText must strip
    // it all back — tag strip, entity decode in the
    // no-double-decode order (&amp;lt; stays the literal &lt;),
    // control drop, whitespace collapse. Pure codegen'd
    // regexp_replace chain, no shuffle; the oracle replays the exact
    // chain in SQL.
    "q_normalize_text" -> ((s, dir) => {
      val wrapped = docs(s, dir).select(col("doc_id"),
        concat(lit("<div class=\"post\">\r\n\n\n  <p>"),
          regexp_replace(col("text"), " ", "&nbsp;"),
          lit("</p>\u0001<!-- footer -->&amp;lt;end&gt;</div>")).as("text"))
      Curation.normalizeText(wrapped)
        .select(col("doc_id"), col("norm_text")).orderBy("doc_id")
    }),

    // LEAKAGE-SAFE split: hash key = near-dup cluster root (shared CC
    // build), so a cluster never straddles train/test — a per-doc
    // split would let a test doc's near-twin sit in train and the
    // eval measure memorization
    "q_split_leakage" -> ((s, dir) =>
      Curation.clusterSplit(docs(s, dir), clusters(s, dir))
        .select("doc_id", "group_key", "bucket", "split")
        .orderBy("doc_id")),

    // deterministic mixture resampling: md5-uniform per doc vs its
    // source's target rate — the domain-reweighting lever; three
    // sources down-sampled, the rest kept
    "q_mixture_sample" -> ((s, dir) =>
      Curation.mixtureSample(docs(s, dir), "source", MixRates)
        .select("doc_id", "source").orderBy("doc_id")),

    // TEMPERATURE-SMOOTHED mixture rates (mT5/XLM-R alpha sampling)
    // with exact waterfilling to a 450-doc budget over the skewed
    // `lang` key: at alpha 0.5 the four small languages cap at rate 1
    // (their proportional draw exceeds their size) and the leftover
    // budget redistributes onto English — the oracle replays the
    // closed-form prefix computation with SQL windows. All windows
    // run over the SOURCE-count frame (5 rows), never documents.
    "q_mixture_alpha" -> ((s, dir) =>
      Curation.temperatureRates(docs(s, dir), "lang",
          alpha = 0.5, budget = 450)
        .orderBy("source")),

    // fixed-window chunking with overlapping stride (window 64,
    // stride 32) — the long-document context-window shaper
    "q_chunk_docs" -> ((s, dir) =>
      Curation.chunkDocs(docs(s, dir), window = 64, stride = 32)
        .orderBy("doc_id", "chunk_idx")),

    // BM25 relevance ranking: top-20 docs for a 3-term query — the
    // relevance surface the reference delegates to its search backend,
    // as a two-pass scan + scalar-stats broadcast + TakeOrdered
    "q_bm25_rank" -> ((s, dir) =>
      TextAnalysis.bm25(docs(s, dir), Bm25Terms, k = 20)),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking and
    // the TF-IDF ranking for the same probe — the standard two-signal
    // retrieval shape (RRF consumes (doc_id, rank) pairs only, so the
    // ANN cosine ranking can replace either side at deployment)
    "q_hybrid_rank" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = org.apache.spark.sql.expressions.Window
      val bm = TextAnalysis.bm25(d, Bm25Terms, k = 50)
        .withColumn("rank", row_number().over(
          w.orderBy(col("bm25").desc, col("doc_id").asc)))
      val tf = TextAnalysis.tfidfRank(d, Bm25Terms, k = 50)
        .withColumn("rank", row_number().over(
          w.orderBy(col("tfidf").desc, col("doc_id").asc)))
      TextAnalysis.rrfFuse(Seq(bm, tf), k = 20)
    }),

    // token/char counting incl. BPE-ish estimate
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir)).orderBy("doc_id")),

    // quality scoring (stopword/punct/repetition ratios)
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(docs(s, dir)).orderBy("doc_id")),

    // stopword-profile language-ID heuristic
    "q_langid" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),

    // rolling-hash document fingerprint (portable arithmetic)
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).orderBy("doc_id")),

    // corpus vocabulary: top-100 terms by total frequency with doc
    // frequency (tokenizer-training staple)
    "q_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), k = 100)),

    // smoothed unigram LM scoring — the perplexity-filter shape: every
    // doc's mean token log-prob under the corpus's own add-one unigram
    // model
    "q_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(docs(s, dir)).orderBy("doc_id")),

    // adjacent-bigram PMI collocations: top-50 associations with
    // count >= 5 — phrase detection / tokenizer merge candidates
    "q_pmi" -> ((s, dir) =>
      TextAnalysis.pmiPairs(docs(s, dir), minCount = 5, k = 50)),

    // add-one BIGRAM LM scoring: mean conditional token log-prob under
    // the corpus's own bigram counts — catches local incoherence the
    // unigram gate (q_lm_score) is blind to
    "q_lm_bigram" -> ((s, dir) =>
      TextAnalysis.lmScoreBigram(docs(s, dir)).orderBy("doc_id")),

    // multinomial Naive Bayes seed-set classifier: train on the
    // src0/src1 provenance labels, score EVERY doc — the fasttext-
    // style quality-filter shape with fully oracle-checkable training
    // arithmetic (the model IS the count tables)
    "q_quality_classifier" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.nbClassify(d,
          d.where(col("source").isin("src0", "src1"))
            .withColumn("label", col("source")))
        .orderBy("doc_id")
    }),

    // the composed CCNet-style quality gate: per-source LM-score
    // threshold at the 0.1 quantile, keep at-or-above — one source's
    // scale never crowds out another
    "q_quality_prune" -> ((s, dir) =>
      Curation.qualityPrune(docs(s, dir)).orderBy("doc_id")),

    // BPE merge training (Sennrich et al. 2016): first 8 merges from
    // the frequency-weighted word table. Grounded q_pca-style row: the
    // first merge (argmax adjacent char pair) is oracle-recomputed
    // exactly; the structural invariants — non-increasing pair counts,
    // every merge built from chars or earlier merges — are engine-
    // asserted booleans; EngineSpec holds a full hand-checked sequence
    "q_bpe" -> ((s, dir) => {
      val ms = TextAnalysis.bpeTrain(docs(s, dir), 8)
      import s.implicits._
      val nonInc = ms.iterator.sliding(2).withPartial(false)
        .forall(p => p.head._3 >= p(1)._3)
      val seen = scala.collection.mutable.Set.empty[String]
      val closed = ms.forall { case (a, b, _) =>
        val ok = (a.length == 1 || seen(a)) && (b.length == 1 || seen(b))
        seen += a + b; ok
      }
      Seq((ms.size, ms.head._1, ms.head._2, ms.head._3, nonInc, closed))
        .toDF("n_merges", "top1_left", "top1_right", "top1_count",
          "counts_nonincreasing", "merge_closure_ok")
    }),

    // DSIR importance weights (Xie et al. 2023): target = the src0
    // provenance slice; per-doc mean log p_target/p_raw under add-one
    // unigram bags over the shared vocabulary — the importance-
    // resampling data-selection shape (keep = more target-like)
    "q_dsir" -> ((s, dir) =>
      TextAnalysis.dsirWeights(docs(s, dir), col("source") === "src0")
        .orderBy("doc_id")),

    // CCNet perplexity stratification (Wenzek et al. 2020): per-source
    // LM-score tertiles label docs head/middle/tail — the labeled
    // counterpart of the q_quality_prune drop gate
    "q_perplexity_buckets" -> ((s, dir) =>
      Curation.perplexityBuckets(docs(s, dir)).orderBy("doc_id")),

    // Gopher heuristic rules (Rae et al. 2021 A1.1): per-rule booleans
    // + composed keep — the length, stop-word and repetition rules all
    // discriminate on this corpus (~20%/37%/8% fail respectively)
    "q_quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherGate(docs(s, dir)).orderBy("doc_id")),

    // exact-substring dup pairs: docs sharing any 16-token window
    // (inverted hashed-gram index self-join, never corpus×corpus)
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.substringDupPairs(docs(s, dir), n = 16)
        .orderBy("d1", "d2")),

    // C4-style line cleaning over the re-lined corpus (4-word lines):
    // drop lines under 4 words or containing the blacklisted token —
    // both rules are load-bearing here (short tail lines and "slow"
    // lines exist); terminal-punctuation mode stays spec-covered (the
    // synthetic corpus carries no punctuation, so it would be vacuous)
    "q_clean_c4" -> ((s, dir) =>
      Curation.cleanLines(docs(s, dir).withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){3}\\S+) ", "$1\n")),
        minWords = 4, blacklist = Seq("slow"), requirePunct = false,
        minLines = 3)
        .orderBy("doc_id")),

    // multimodal content store: binary payloads + typed metadata
    // (FileInfoton/zstore analog; payload = text bytes stand-in)
    "q_file_meta" -> ((s, dir) =>
      Multimodal.contentStore(docs(s, dir))
        .select("path", "mimeType", "dataLength", "sha256")
        .orderBy("path")),

    // REAL image decode: synthetic gradient PNGs (closed-form pixels
    // from doc_id, row filters cycling through all five PNG
    // predictors) round-trip Spark-side through Png.decode while the
    // oracle recomputes dims + pixel sum from the formula — any codec
    // defect (filter math, inflate, scanline layout) breaks the sum
    "q_file_decode" -> ((s, dir) => {
      val content = Multimodal.pngContentStore(s, docs(s, dir))
      // persist before sort — the PNG encode+decode pipeline would
      // otherwise run twice (range-sample pass + shuffle pass)
      Caches.persist(Multimodal.decode(s, content)
        .select(col("path"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          aggregate(transform(col("pixels"),
              p => round(p * 255).cast("long")), lit(0L), _ + _)
            .as("pixel_sum")))
        .orderBy("path")
    }),

    // REAL ImageIO decode (BMP): the same closed-form gradient as
    // q_file_decode encoded via the JDK BMP writer — lossless, so the
    // oracle pins the ImageIO path pixel-exactly
    "q_image_decode_bmp" -> ((s, dir) => {
      val content = Multimodal.imageIoContentStore(s, docs(s, dir),
        "bmp", "image/bmp")
      // persist the result-sized frame BEFORE the global sort: the
      // range-sample pass under orderBy re-executes its child, and
      // here the child is the whole encode+decode pipeline above the
      // last exchange — without the persist every image decodes twice
      Caches.persist(Multimodal.decode(s, content)
        .select(col("path"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          aggregate(transform(col("pixels"),
              p => round(p * 255).cast("long")), lit(0L), _ + _)
            .as("pixel_sum")))
        .orderBy("path")
    }),

    // REAL ImageIO decode (GIF): ≤256 gray palette — also lossless
    "q_image_decode_gif" -> ((s, dir) => {
      val content = Multimodal.imageIoContentStore(s, docs(s, dir),
        "gif", "image/gif")
      // persist before sort — same double-decode rationale as the BMP
      Caches.persist(Multimodal.decode(s, content)
        .select(col("path"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          aggregate(transform(col("pixels"),
              p => round(p * 255).cast("long")), lit(0L), _ + _)
            .as("pixel_sum")))
        .orderBy("path")
    }),

    // REAL ImageIO decode (JPEG — lossy): constant-tone frames, so
    // dims are exact and every decoded pixel must sit within DC-
    // quantization tolerance (±8) of the closed-form tone — the
    // lossless-safe assertion surface for a lossy codec
    "q_image_decode_jpeg" -> ((s, dir) => {
      val content = Multimodal.jpegContentStore(s, docs(s, dir))
      val docId = element_at(split(col("path"), "/"), 3).cast("long")
      val tone = (docId * 37) % 256
      // persist before sort — same double-decode rationale as the BMP
      Caches.persist(Multimodal.decode(s, content)
        .select(col("path"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          forall(col("pixels"),
            p => abs(round(p * 255) - tone) <= 8).as("tone_ok")))
        .orderBy("path")
    }),

    // REAL video frame extraction: concatenated-PNG streams split by
    // signature scan, each frame decoded by the real codec — the
    // oracle recomputes per-frame dims + pixel sums from the closed
    // form, so the splitter AND the per-frame decode are both pinned
    "q_video_frames" -> ((s, dir) => {
      val content = Multimodal.videoContentStore(s, docs(s, dir))
      // persist before sort — the frame split+decode pipeline would
      // otherwise run twice (range-sample pass + shuffle pass)
      Caches.persist(Multimodal.decodeFrames(s, content)
        .select(col("path"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          aggregate(transform(col("pixels"),
              p => round(p * 255).cast("long")), lit(0L), _ + _)
            .as("pixel_sum")))
        .orderBy("path", "frame_no")
    }),

    // temporal frame sampling over the REAL decoded stream (the
    // keyframe-stride op of a video curation pipeline): split +
    // decode in-row, keep every 2nd frame. The stride predicate on
    // frame_no composes with the posexplode — no second decode, and
    // at scale the filter runs on the exploded frame rows of the same
    // single scan.
    "q_video_sample" -> ((s, dir) => {
      val content = Multimodal.videoContentStore(s, docs(s, dir))
      // persist before sort — same double-decode rationale as
      // q_video_frames
      Caches.persist(Multimodal.decodeFrames(s, content)
        .where(col("frame_no") % 2 === 0)
        .select(col("path"), col("frame_no").cast("long").as("frame_no"),
          aggregate(transform(col("pixels"),
              p => round(p * 255).cast("long")), lit(0L), _ + _)
            .as("pixel_sum")))
        .orderBy("path", "frame_no")
    }),

    // resize = integer-factor average pooling over decoded frames —
    // the standard image-preprocessing step of a multimodal training
    // pipeline, run END-TO-END on real bytes: decode the concatenated-
    // PNG stream, 2×2-pool every frame, report a position-weighted
    // integer projection. round(p·255·f²) recovers each output
    // pixel's source-block value sum EXACTLY (4 exact float32 terms,
    // see Multimodal.resize), so both engines compare integers; the
    // (o+1) position weight makes the block STRUCTURE load-bearing,
    // not just the total (which pooling preserves trivially).
    "q_image_resize" -> ((s, dir) => {
      val content = Multimodal.videoContentStore(s, docs(s, dir))
      val frames = Multimodal.decodeFrames(s, content)
      // persist before sort — same double-decode rationale as
      // q_video_frames
      Caches.persist(
        Multimodal.resize(frames, 2, Seq("path", "frame_no"))
        .select(col("path"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          aggregate(
            zip_with(col("pixels"),
              sequence(lit(1), size(col("pixels")), lit(1)),
              (p, w) => round(p * 1020).cast("long") * w.cast("long")),
            lit(0L), _ + _).as("pooled_wsum")))
        .orderBy("path", "frame_no")
    }),

    // multimodal retrieval END-TO-END: decode real PNGs -> 4-chunk
    // integer feature vector (sum of round(px*255) per fixed 16-pixel
    // chunk — integers, so BOTH engines rank exactly) -> top-3
    // neighbors per probe image by L1 distance, ties broken by path.
    // Pins the decode -> featurize -> retrieve composition, the
    // embedding-similarity shape over image payloads.
    "q_image_knn" -> ((s, dir) => {
      val content = Multimodal.pngContentStore(s, docs(s, dir))
      val dec = Multimodal.decode(s, content)
      val chunkSum = (q: Int) => aggregate(
        transform(slice(col("pixels"), q * 16 + 1, 16),
          p => round(p * 255).cast("long")), lit(0L), _ + _)
      // persist the feature frame: it is referenced TWICE in the plan
      // (probe side + the broadcast query side derives from it), and a
      // plan tree computes each reference separately — without the
      // persist every PNG decodes twice before the join even starts
      val feats = Caches.persist(dec.select(col("path"),
        array((0 until 4).map(chunkSum): _*).as("f")))
      val queries = feats.where(col("path").isin(
          "/documents/0", "/documents/1", "/documents/2"))
        .select(col("path").as("query_path"), col("f").as("qf"))
      val scored = feats
        .join(broadcast(queries), col("path") =!= col("query_path"))
        .select(col("query_path"), col("path").as("neighbor_path"),
          aggregate(zip_with(col("f"), col("qf"), (a, b) => abs(a - b)),
            lit(0L), _ + _).as("dist"))
      Candidates.firstK(scored, "query_path", 3, "rank",
          col("dist"), col("neighbor_path"))
        .select(col("query_path"), col("rank").cast("long").as("rank"),
          col("neighbor_path"), col("dist"))
        .orderBy("query_path", "rank")
    }),

    // REAL audio decode: synthetic PCM16 WAVs (closed-form samples
    // from doc_id) round-trip through Wav.decode; the oracle
    // recomputes frame counts + the exact integer sample sum — any
    // codec defect (chunk walk, endianness, normalization) breaks it
    "q_audio_decode" -> ((s, dir) => {
      val content = Multimodal.wavContentStore(s, docs(s, dir))
      // persist before sort — the WAV decode pipeline would otherwise
      // run twice (range-sample pass + shuffle pass)
      Caches.persist(Multimodal.decodeAudio(s, content)
        .select(col("path"),
          col("sample_rate").cast("long").as("sample_rate"),
          size(col("samples")).cast("long").as("n_samples"),
          aggregate(transform(col("samples"),
              x => round(x * 32768).cast("long")), lit(0L), _ + _)
            .as("sample_sum")))
        .orderBy("path")
    }),

    // integer-factor decimation (the resample plumbing): decode real
    // RIFF bytes, keep every 2nd sample, halve the rate. The kept-
    // sample integer sum is exact the same way q_audio_decode's is
    // (each sample v/2^15 exact in float32), so dims, rate and the
    // decimated sum are integer-compared end to end.
    "q_audio_resample" -> ((s, dir) => {
      val content = Multimodal.wavContentStore(s, docs(s, dir))
      val rs = Multimodal.audioResample(
        Multimodal.decodeAudio(s, content), 2)
      // persist before sort — same double-decode rationale as
      // q_audio_decode
      Caches.persist(rs.select(col("path"),
          col("sample_rate").cast("long").as("sample_rate"),
          size(col("samples")).cast("long").as("n_samples"),
          aggregate(transform(col("samples"),
              x => round(x * 32768).cast("long")), lit(0L), _ + _)
            .as("sample_sum")))
        .orderBy("path")
    }),

    // windowed audio framing (VAD-style segmentation): decode real
    // RIFF bytes, frame into 160-sample (20 ms @ 8 kHz) windows,
    // per-frame energy Σx² in-row. energy·2^30 recovers the integer
    // sum of squared PCM16 samples EXACTLY (each sample v/2^15 and
    // v² are exact in float32/double for |v| ≤ 1000), so counts,
    // totals, peaks and the argmax frame are integer-compared.
    // first-occurrence argmax on both sides (array_position /
    // list_position) keeps ties deterministic.
    "q_audio_frames" -> ((s, dir) => {
      val content = Multimodal.wavContentStore(s, docs(s, dir))
      val fr = Multimodal.audioFrames(
        Multimodal.decodeAudio(s, content), 160)
      val asInt = (e: org.apache.spark.sql.Column) =>
        round(e * lit(1073741824.0d)).cast("long")
      // persist before sort — same double-decode rationale as
      // q_audio_decode
      Caches.persist(fr.select(col("path"),
          col("n_frames").cast("long").as("n_frames"),
          asInt(aggregate(col("frame_energy"), lit(0.0d), _ + _))
            .as("total_energy"),
          asInt(array_max(col("frame_energy"))).as("peak_energy"),
          (array_position(col("frame_energy"),
            array_max(col("frame_energy"))) - 1).cast("long")
            .as("peak_frame")))
        .orderBy("path")
    }),

    // CENTROID-DISTANCE outliers: per label, the 3 vectors farthest
    // from the label's mean — the noise/mislabel signal run before
    // per-cluster dedup. Distances rounded 6 dp (the mean is a
    // different summation order than the oracle's per-dim avg;
    // divergence ≤1e-12, far inside the rounding).
    "q_embed_outliers" -> ((s, dir) => {
      val d = Similarity.centroidDistance(emb(s, dir))
        .select(col("label"), col("vec_id"),
          round(col("centroid_dist"), 6).as("dist"))
      Candidates.firstK(d, "label", 3, "rnk", col("dist").desc,
          col("vec_id").asc)
        .select("label", "rnk", "vec_id", "dist")
        .orderBy("label", "rnk")
    }),

    // MATRYOSHKA truncation grounded against the full ranking: 64→16
    // dims + renormalize, exact top-5 in the TRUNCATED space per
    // query, plus the overlap count vs the full-dim exact top-5 —
    // the storage/recall trade, value-checked (the oracle recomputes
    // both rankings on the sliced raw lists; cosine is
    // scale-invariant so renormalization preserves the order)
    "q_embed_truncate" -> ((s, dir) => {
      val tr = Similarity.truncateEmbeddings(emb(s, dir), 16)
      // 12 dp rounding before ranking on BOTH sides (engine computes
      // cosine on renormalized slices, the oracle on raw slices —
      // equal in exact arithmetic, last-ulp apart in libm)
      val trTop = Similarity.cosineTopK(tr, Seq(0L, 1L, 2L), 5, roundDp = 12)
        .select("query_id", "rank", "neighbor_id")
      val fullTop = Similarity
        .cosineTopK(emb(s, dir), Seq(0L, 1L, 2L), 5, roundDp = 12)
        .select("query_id", "neighbor_id")
      rankOverlap(trTop, fullTop, "trunc_top1")
        .select(col("query_id"), col("trunc_top1"),
          col("n_overlap").as("n_overlap_full"))
        .orderBy("query_id")
    }),

    // CORPUS SNAPSHOT DIFF: the current snapshot drops every 5th doc,
    // rewrites every (kept) 7th, and gains a clone per 11th under a
    // fresh id — per-id status via the digest-projected full-outer
    // join (text never moves)
    "q_corpus_diff" -> ((s, dir) => {
      val prev = docs(s, dir)
      val base = prev.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = prev.where(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Curation.corpusDiff(prev, base.unionByName(added))
        .orderBy("doc_id")
    }),

    // LEAKAGE AUDIT — the measurement that justifies clusterSplit:
    // over the exact near-dup pair set, count pairs whose members
    // land on DIFFERENT splits under (a) the plain per-doc hash split
    // and (b) the cluster-aware split. (b) is structurally zero; (a)
    // leaks. Two rows, value-checked — the oracle recomputes both
    // assignments over the recursive-CTE pair set.
    "q_split_audit" -> ((s, dir) => {
      val pairs = jaccard(s, dir).select("d1", "d2")
      val plain = Curation.hashSplit(docs(s, dir))
        .select(col("doc_id"), col("split"))
      val clustered = Curation.clusterSplit(docs(s, dir), clusters(s, dir))
        .select(col("doc_id"), col("split"))
      def audit(name: String, assign: DataFrame): DataFrame =
        pairs
          .join(assign.withColumnRenamed("doc_id", "d1")
            .withColumnRenamed("split", "s1"), Seq("d1"))
          .join(assign.withColumnRenamed("doc_id", "d2")
            .withColumnRenamed("split", "s2"), Seq("d2"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L))
              .as("n_cross_split"))
          .select(lit(name).as("scheme"), col("n_pairs"),
            col("n_cross_split"))
      audit("hash", plain).unionByName(audit("cluster", clustered))
        .orderBy("scheme")
    }),

    // WEIGHTED sampling without replacement (A-Res, deterministic):
    // 20 docs per source, inclusion ∝ n_chars via the u^(1/w) key
    // over the portable md5-uniform. One window rank per source.
    "q_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(docs(s, dir), "n_chars", 20)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")),

    // CHECKSUM-GATED card redaction: both sides inject two candidates
    // per doc — a dash-grouped number whose Luhn CHECK DIGIT is
    // computed in the query, and a bare 16-digit companion that is
    // valid only for doc_id%3==0 (else its check digit is off by 5) —
    // so n_valid varies and redaction hits exactly the validated
    // spellings. Extraction, the per-candidate Luhn aggregate, and
    // the replace fold all run in-row.
    "q_redact_cards" -> ((s, dir) => {
      val b = lpad((col("doc_id") * 387420489L + 12345L).cast("string"),
        15, "0")
      // check digit with the check position in place: right-index r
      // over the 15 base digits, r odd doubles
      val sum15 = aggregate(sequence(lit(1), lit(15)), lit(0), (acc, r) => {
        val dig = b.substr(lit(16) - r, lit(1)).cast("int")
        val dd = when(r % 2 === 1, dig * 2).otherwise(dig)
        acc + when(dd > 9, dd - 9).otherwise(dd)
      })
      val check = (lit(10) - (sum15 % 10)) % 10
      val valid16 = concat(b, check.cast("string"))
      val grouped = concat_ws("-", valid16.substr(1, 4),
        valid16.substr(5, 4), valid16.substr(9, 4), valid16.substr(13, 4))
      val second = concat(b,
        when(col("doc_id") % 3 === 0, check)
          .otherwise((check + 5) % 10).cast("string"))
      val wrapped = docs(s, dir).withColumn("text",
        concat(col("text"), lit(" card "), grouped,
          lit(" ref "), second))
      // parallelize at the QUERY level, not inside redactCards: the
      // operator's zero-Exchange contract (per-row family plan pin)
      // stays intact, while the bench's single-split documents scan
      // stops running the whole regex+Luhn projection in one task —
      // the query plan already carries an Exchange (the orderBy), so
      // this adds no new shuffle CLASS, and at scale the input has
      // enough splits that computeParallel is a no-op
      Curation.redactCards(Similarity.computeParallel(wrapped))
        .orderBy("doc_id")
    }),

    // SPECTRAL audio features: decode real RIFF bytes, frame into
    // 160-sample windows, single-bin DFT magnitudes² at k=1,2,4,8
    // entirely in-row (zip_with + aggregate — no UDF, no shuffle).
    // The oracle recomputes the closed-form samples and the same DFT
    // relationally; magnitudes rounded to 6 dp on both sides (trig is
    // the one libm-divergent stage, error ≤1e-13 per frame).
    "q_audio_spectra" -> ((s, dir) => {
      val content = Multimodal.wavContentStore(s, docs(s, dir))
      // persist before sort — same double-decode rationale as
      // q_audio_decode
      Caches.persist(Multimodal.audioSpectra(
          Multimodal.decodeAudio(s, content), 160, Seq(1, 2, 4, 8)))
        .orderBy("path", "frame")
    }),

    // URL/domain blocklist filtering (C4 source gate). The corpus has
    // no URL column, so both sides inject the same deterministic URLs
    // (mixed-case scheme/host + www + port/path noise so extraction is
    // load-bearing); blocklist semantics = exact host OR parent-domain
    // suffix. Runs the DATAFRAME blocklist path (suffix-chain explode
    // + broadcast semi-join — the million-entry-feed shape); the
    // literal-list expression path is pinned equal in EngineSpec.
    "q_url_filter" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val injected = docs(s, dir).withColumn("url",
        concat(lit("HTTPS://"),
          when(col("doc_id") % 7 === 0,
            concat(lit("spam"), (col("doc_id") % 3).cast("string"),
              lit(".Example.com")))
            .when(col("doc_id") % 7 === 1, lit("www.ads.tracker.net"))
            .otherwise(concat(lit("Site"), (col("doc_id") % 50).cast("string"),
              lit(".org"))),
          lit(":443/page/"), col("doc_id").cast("string"),
          lit("?ref=x#top")))
      Curation.urlFilterJoin(injected,
          Seq("example.com", "ads.tracker.net").toDF("domain"))
        .groupBy("domain", "blocked")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }),

    // per-doc token-distribution Shannon entropy — the information-
    // density quality proxy, computed WITHOUT a shuffle (in-row sorted
    // runs); the oracle recomputes it relationally (explode/groupBy),
    // pinning the two formulations against each other
    "q_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(docs(s, dir)).orderBy("doc_id")),

    // random-projection (JL) ANN: 32-dim Gaussian sketch candidates,
    // exact re-rank — the third index family next to LSH buckets and
    // IVF cells. Same grounded contract as q_knn_lsh/q_knn_ivf;
    // overlap bound matches q_knn_ivf's looser 3/5 (the near-uniform
    // fixtures put query 2's tail neighbors at reduced-space noise —
    // the adversarial case for distance-preserving sketches, exactly
    // as for IVF cells)
    "q_knn_rp" -> ((s, dir) =>
      annCheck(emb(s, dir), Similarity.rpTopK(emb(s, dir),
        Seq(0L, 1L, 2L), 5), minOverlap = 3)),

    // contrastive triplet mining (anchor, exact-nearest positive,
    // next-4-ranks hard negatives) — the embedding-training dataset
    // constructor; ranker-agnostic (swap in LSH/PQ at scale)
    "q_triplets" -> ((s, dir) =>
      Similarity.tripletMine(emb(s, dir), Seq(0L, 1L, 2L), nNeg = 4)
        .orderBy("anchor_id", "neg_rank")),

    // product-quantized ANN (Jégou et al. 2011 — faiss PQ8×16): m=8
    // subspace codebooks, m-byte codes, ADC lookup-table candidate
    // ranking + exact re-rank — the FOURTH index family next to LSH /
    // IVF / JL-sketch. Same grounded contract; overlap bound matches
    // the other quantized rankings on the near-uniform fixtures
    "q_knn_pq" -> ((s, dir) =>
      annCheck(emb(s, dir), Similarity.pqTopK(emb(s, dir),
        Seq(0L, 1L, 2L), 5), minOverlap = 3)),

    // Misra-Gries heavy hitters: phi-frequent terms with fixed per-task
    // state + candidate-sized shuffle (result exact: sketch proposes,
    // second pass recounts); phi=0.005 excludes exactly one vocab term
    // at sf0.01, so the threshold is load-bearing
    "q_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(docs(s, dir), phi = 0.005)),

    // PCA over the embedding corpus — trained dimensionality-reduction
    // artifact; grounded row: axis_max_var is oracle-recomputed, the
    // booleans are engine measurements against that pinned number
    // (pc1 variance must reach the best axis, spectrum must descend,
    // basis must be orthonormal)
    "q_pca" -> ((s, dir) =>
      Similarity.pcaCheck(emb(s, dir), c = 4)),

    // ordered funnel signup→view→click→purchase: earliest chain per
    // user + reached level — one shuffle, per-step in-row min walk;
    // oracle = the chained min-aggregation CTEs
    "q_funnel" -> ((s, dir) =>
      Sessions.funnel(graft.model.TableLoader.events(s, dir),
        Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")),

    // weekly retention matrix: cohort = first-activity week, count of
    // distinct users active per (cohort, week offset)
    "q_retention" -> ((s, dir) =>
      Sessions.retention(graft.model.TableLoader.events(s, dir), 7)
        .orderBy("cohort", "offset")),

    // lengthQuantiles' documented 100 TB swap (exact percentile →
    // t-digest approx_percentile) pinned the same way: oracle-exact
    // p50/p90 per source + booleans that the t-digest estimates land
    // within 10% (deterministic: the digest merge is order-stable for
    // a fixed accuracy parameter and this data)
    "q_quantiles_approx" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = size(TextAnalysis.tokens(col("text")))
      d.select(col("source"), n.as("n_tokens"))
        .groupBy("source")
        .agg(round(percentile(col("n_tokens"), lit(0.5)), 6).as("p50"),
          round(percentile(col("n_tokens"), lit(0.9)), 6).as("p90"),
          percentile_approx(col("n_tokens"), lit(0.5), lit(10000))
            .as("__a50"),
          percentile_approx(col("n_tokens"), lit(0.9), lit(10000))
            .as("__a90"))
        .select(col("source"), col("p50"), col("p90"),
          (abs(col("__a50") - col("p50")) <= col("p50") * 0.10)
            .as("p50_ok"),
          (abs(col("__a90") - col("p90")) <= col("p90") * 0.10)
            .as("p90_ok"))
        .orderBy("source")
    }),

    // the corpusReport doc promises approx_count_distinct as the
    // 100 TB swap for the exact dup-rate — this PINS that promise:
    // per source, the oracle-recomputed exact distinct count plus a
    // boolean that the engine's HLL++ estimate lands within 10%
    // (observed max 4% at sf0.01; HLL merge is order-independent, so
    // the row is deterministic)
    "q_report_approx" -> ((s, dir) => {
      val d = docs(s, dir)
      d.groupBy("source")
        .agg(countDistinct(md5(col("text"))).as("n_unique"),
          approx_count_distinct(md5(col("text"))).as("__ap"))
        .select(col("source"), col("n_unique"),
          (abs(col("__ap") - col("n_unique")).cast("double") /
            col("n_unique") <= 0.10).as("approx_ok"))
        .orderBy("source")
    }),

    // salted equi-join (the hot-key scatter lever): purchases enriched
    // with a per-user dim under a 16-way salt, merge-hinted so the
    // join actually distributes (broadcast would trivialize it);
    // result must be row-identical to the plain relational join
    "q_salted_join" -> ((s, dir) => {
      // TableLoader.events, NOT a raw parquet read: ts physical type
      // varies across driver generations (INT64-nanos needs the
      // loader's conf even when ts is never selected)
      val ev = graft.model.TableLoader.events(s, dir)
      val fact = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
      val dim = ev.groupBy("user_id")
        .agg(count(when(col("event_type") === "view", 1)).as("n_views"))
      graft.ops.Joins.saltedJoin(fact, dim.hint("merge"), "user_id", 16)
        .select("event_id", "user_id", "value", "n_views")
        .orderBy("event_id")
    }))

  private val Bm25Terms = Seq("table", "scan", "merge")

  /** Mixture-resampling rates for q_mixture_sample (ordered for
    * deterministic oracle generation). */
  private val MixRates: Map[String, Double] =
    Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.75)

  /** The oracle's u(id): same per-hex-char ascii arithmetic as
    * `Curation.hexVal` over the first four md5 hex chars. */
  private def mixUSql: String = {
    def hv(i: Int) =
      s"(ascii(substr(h, $i, 1)) - CASE WHEN substr(h, $i, 1) <= '9' " +
        "THEN 48 ELSE 87 END)"
    s"CAST((((${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}) * 16 + ${hv(4)}) " +
      "AS DOUBLE) / 65536.0"
  }

  /** md5-hex bucket arithmetic (first two hex chars → 0..255) shared
    * by the split oracles — the SQL mirror of Curation's bucketOf.
    * `h` is a SQL expression yielding the md5 hex string. */
  private def bucketSql(h: String): String =
    s"(ascii(substr($h, 1, 1)) - CASE WHEN substr($h, 1, 1) <= '9' " +
      s"THEN 48 ELSE 87 END) * 16 + ascii(substr($h, 2, 1)) - " +
      s"CASE WHEN substr($h, 2, 1) <= '9' THEN 48 ELSE 87 END"

  /** The 246/251/256 split cuts as a SQL CASE — single-sourced with
    * [[bucketSql]] so a cut change edits ONE place (the engine-side
    * constants live in Curation.hashSplit's default). */
  private def splitCaseSql(bucket: String): String =
    s"CASE WHEN $bucket < 246 THEN 'train' " +
      s"WHEN $bucket < 251 THEN 'val' ELSE 'test' END"

  /** BM25 oracle SQL — generated from the SAME term list with every
    * arithmetic step in the same operator order as
    * [[TextAnalysis.bm25]], so the doubles agree before rounding. */
  private def bm25Sql(terms: Seq[String], k: Int): String = {
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) " +
        s"AS DOUBLE) AS df_$i"
    }.mkString(",\n|  ")
    val score = terms.zipWithIndex.map { case (t, i) =>
      s"ln(1 + (n - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"(CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) * (1.2 + 1)) / " +
        s"(CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) + " +
        "1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
    }.mkString("\n|  + ")
    s"""WITH d AS (SELECT doc_id, $TokensSql AS ts,
       |  CAST(len($TokensSql) AS DOUBLE) AS dl FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |  $dfAggs FROM d)
       |SELECT doc_id, round($score, 6) AS bm25
       |FROM d CROSS JOIN st
       |ORDER BY bm25 DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  private val TokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** RRF fusion oracle: BM25 top-`perSide` + TF-IDF top-`perSide`,
    * each ranked on its ROUNDED score (mirroring the engine), fused by
    * Σ 1/(60 + rank), top `k`. */
  private def hybridSql(terms: Seq[String], perSide: Int, k: Int): String = {
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) " +
        s"AS DOUBLE) AS df_$i"
    }.mkString(",\n|  ")
    val bmScore = terms.zipWithIndex.map { case (t, i) =>
      s"ln(1 + (n - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"(CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) * (1.2 + 1)) / " +
        s"(CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) + " +
        "1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
    }.mkString("\n|  + ")
    val tfScore = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) * " +
        s"(ln((1 + n) / (1 + df_$i)) + 1)"
    }.mkString("\n|  + ")
    s"""WITH d AS (SELECT doc_id, $TokensSql AS ts,
       |  CAST(len($TokensSql) AS DOUBLE) AS dl FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |  $dfAggs FROM d),
       |bm AS (SELECT doc_id, round($bmScore, 6) AS s FROM d CROSS JOIN st
       |  ORDER BY s DESC, doc_id ASC LIMIT $perSide),
       |bmr AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r FROM bm),
       |tf AS (SELECT doc_id, round($tfScore, 6) AS s FROM d CROSS JOIN st
       |  ORDER BY s DESC, doc_id ASC LIMIT $perSide),
       |tfr AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r FROM tf),
       |u AS (SELECT doc_id, 1.0 / (60 + r) AS c FROM bmr
       |  UNION ALL SELECT doc_id, 1.0 / (60 + r) FROM tfr)
       |SELECT doc_id, round(sum(c), 6) AS rrf FROM u GROUP BY doc_id
       |ORDER BY rrf DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Lloyd k-means as a DuckDB CTE chain — the SAME iterations as
    * [[graft.pipeline.Similarity.kmeans]], term for term: init = the
    * `k` lowest-vec_id vectors on the 6-decimal grid; assignment ranks
    * `c·c − 2·(v·c)` (list_inner_product accumulates index-ordered in
    * double, exactly like the engine's native dot against rounded
    * centroid literals), ties to the lowest cluster; update =
    * `round(avg(v[i]), 6)` with empty clusters keeping their previous
    * centroid. Ends with `af` = the assignment under the final
    * centroids; callers append their SELECT. */
  private def kmeansSql(k: Int, iters: Int): String =
    "WITH " + kmeansParts(k, iters).mkString(",\n")

  private def kmeansParts(k: Int, iters: Int): Seq[String] = {
    def assign(name: String, cent: String) =
      s"""$name AS (SELECT vec_id, cluster FROM (
         |  SELECT e.vec_id, $cent.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_inner_product($cent.c, $cent.c)
         |        - 2 * list_inner_product(e.v, $cent.c) ASC,
         |      $cent.cluster ASC) AS rn
         |  FROM e CROSS JOIN $cent) WHERE rn = 1)""".stripMargin
    val parts = scala.collection.mutable.Buffer(
      s"""e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         |  list_transform(v, x -> round(x, 6)) AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k))"""
        .stripMargin)
    for (i <- 1 to iters) {
      parts += assign(s"a$i", s"c${i - 1}")
      parts +=
        s"""u$i AS (SELECT a$i.cluster, t.i, round(avg(e.v[t.i]), 6) AS cv
           |  FROM a$i JOIN e USING (vec_id),
           |    UNNEST(generate_series(1, len(e.v))) AS t(i)
           |  GROUP BY 1, 2)""".stripMargin
      parts +=
        s"""c$i AS (SELECT c${i - 1}.cluster, COALESCE(n.c, c${i - 1}.c) AS c
           |  FROM c${i - 1} LEFT JOIN (SELECT cluster,
           |    list(cv ORDER BY i) AS c FROM u$i GROUP BY 1) n
           |  USING (cluster))""".stripMargin
    }
    parts += assign("af", s"c$iters")
    parts.toSeq
  }

  /** The two-level SemDeDup oracle chain: the distributed fine Lloyd
    * ([[kmeansParts]], k fine clusters ending `c$iters`), then the
    * SAME Lloyd shape again — term for term — over the fine centroids
    * themselves (`coarseK` cells, the engine's driver-side
    * [[graft.pipeline.Similarity.lloydDriver]]), then the two-level
    * MULTI-PROBE assignment: each vector takes its `probes` nearest
    * NON-EMPTY coarse cells (dist ASC, cell ASC), then the nearest
    * fine centroid across the UNION of those cells' children
    * (dist ASC, fine id ASC) — ending `m2(cluster, vec_id, v)`
    * for the caller's pair select. */
  private def sem2lSql(k: Int, coarseK: Int, iters: Int,
                       probes: Int): String = {
    def assignF(name: String, cent: String) =
      s"""$name AS (SELECT id, cluster FROM (
         |  SELECT f.id, $cent.cluster,
         |    row_number() OVER (PARTITION BY f.id ORDER BY
         |      list_inner_product($cent.c, $cent.c)
         |        - 2 * list_inner_product(f.v, $cent.c) ASC,
         |      $cent.cluster ASC) AS rn
         |  FROM f CROSS JOIN $cent) WHERE rn = 1)""".stripMargin
    val parts = scala.collection.mutable.Buffer[String]()
    parts ++= kmeansParts(k, iters)
    parts += s"f AS (SELECT cluster AS id, c AS v FROM c$iters)"
    parts +=
      s"""g0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster,
         |  list_transform(v, x -> round(x, 6)) AS c
         |  FROM (SELECT id, v FROM f ORDER BY id LIMIT $coarseK))"""
        .stripMargin
    for (i <- 1 to iters) {
      parts += assignF(s"ga$i", s"g${i - 1}")
      parts +=
        s"""gu$i AS (SELECT ga$i.cluster, t.i, round(avg(f.v[t.i]), 6) AS cv
           |  FROM ga$i JOIN f ON f.id = ga$i.id,
           |    UNNEST(generate_series(1, len(f.v))) AS t(i)
           |  GROUP BY 1, 2)""".stripMargin
      parts +=
        s"""g$i AS (SELECT g${i - 1}.cluster, COALESCE(nn.c, g${i - 1}.c) AS c
           |  FROM g${i - 1} LEFT JOIN (SELECT cluster,
           |    list(cv ORDER BY i) AS c FROM gu$i GROUP BY 1) nn
           |  USING (cluster))""".stripMargin
    }
    parts += assignF("fc", s"g$iters")
    parts += "ne AS (SELECT DISTINCT cluster FROM fc)"
    parts +=
      s"gcn AS (SELECT g$iters.cluster, g$iters.c FROM g$iters " +
        "JOIN ne USING (cluster))"
    parts +=
      s"""vc AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, gcn.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_inner_product(gcn.c, gcn.c)
         |        - 2 * list_inner_product(e.v, gcn.c) ASC,
         |      gcn.cluster ASC) AS rn
         |  FROM e CROSS JOIN gcn) WHERE rn <= $probes)""".stripMargin
    parts +=
      """ff AS (SELECT fc.id AS fid, fc.cluster AS cell, f.v AS c
        |  FROM fc JOIN f ON f.id = fc.id)""".stripMargin
    parts +=
      """vf AS (SELECT vec_id, fid AS cluster FROM (
        |  SELECT e.vec_id, ff.fid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_inner_product(ff.c, ff.c)
        |        - 2 * list_inner_product(e.v, ff.c) ASC,
        |      ff.fid ASC) AS rn
        |  FROM e JOIN vc USING (vec_id) JOIN ff ON ff.cell = vc.cell)
        |  WHERE rn = 1)""".stripMargin
    parts +=
      "m2 AS (SELECT vf.cluster, vf.vec_id, e.v FROM vf JOIN e " +
        "USING (vec_id))"
    "WITH " + parts.mkString(",\n")
  }

  /** Add-one unigram LM scoring as CTEs ending in
    * `sc(doc_id, lm_logp)` — shared by q_lm_score and the composed
    * q_quality_prune gate (same arithmetic as
    * [[graft.pipeline.TextAnalysis.lmScore]]). */
  private val LmScoreSql =
    s"""WITH occ AS (SELECT doc_id, UNNEST($TokensSql) AS tok
       |  FROM documents),
       |c AS (SELECT tok, count(*) AS c FROM occ GROUP BY 1),
       |s AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
       |  CAST(count(*) AS DOUBLE) AS v FROM c),
       |sc AS (SELECT doc_id,
       |  round(avg(ln(c + 1.0) - ln(n + v)), 6) AS lm_logp
       |  FROM occ JOIN c USING (tok) CROSS JOIN s
       |  GROUP BY doc_id)""".stripMargin

  /** Bigram-Jaccard pair SQL — the plain inverted-index formulation
    * (the engine's prefix-filtered join is exact, so this IS its
    * oracle). */
  /** DuckDB relation for the hot-phrase skewed corpus — the SQL twin
    * of the q_*_skew queries' text remap (same [[HotPhrase]], same
    * doc_id % 10 rule). */
  private def SkewDocsSql: String =
    s"(SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN '$HotPhrase ' || text" +
      " ELSE text END AS text FROM documents)"

  /** Exact bigram-Jaccard pair SQL over a pluggable docs relation
    * (naive inverted-index join — DuckDB absorbs the hot-shingle
    * blowup at oracle scale; the engine must NOT). */
  private def jaccardPairsSqlOver(rel: String): String =
    s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM $rel AS documents),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS sh
       |  FROM tok, UNNEST(generate_series(1, len(ts)-1)) AS t(i)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, CAST(i AS DOUBLE)/(s1.sz + s2.sz - i) AS jaccard
       |FROM inter JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(i AS DOUBLE)/(s1.sz + s2.sz - i) >= 0.8""".stripMargin

  private val JaccardPairsSql = jaccardPairsSqlOver("documents")

  /** Exact all-pairs trigram containment SQL over a pluggable docs
    * relation — shared by the uniform and hot-phrase-skewed oracles. */
  private def containmentSqlOver(rel: String): String =
    s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM $rel AS documents),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
       |  FROM tok, UNNEST(generate_series(1, len(ts)-2)) AS t(i)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  round(CAST(i AS DOUBLE) / s1.sz, 6) AS containment
       |FROM inter JOIN sizes s1 ON d1 = s1.doc_id
       |WHERE CAST(i AS DOUBLE) / s1.sz >= 0.9
       |ORDER BY d1, d2""".stripMargin

  private val LangScores = TextAnalysis.LangProfiles.map { case (l, ws) =>
    val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(ts, t -> list_contains($arr, t))) AS s_$l"
  }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS copies FROM documents
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_dedup_jaccard" -> (JaccardPairsSql + " ORDER BY d1, d2"),
    "q_dedup_jaccard_skew" ->
      (jaccardPairsSqlOver(SkewDocsSql) + " ORDER BY d1, d2"),
    // exact all-pairs containment (naive in SQL; the engine reaches
    // the same set via the prefix-filtered candidate join)
    "q_dedup_containment" -> (containmentSqlOver("documents")),
    "q_dedup_containment_skew" -> (containmentSqlOver(SkewDocsSql)),
    // exact all-pairs corpus x benchmark jaccard (naive in SQL; the
    // engine reaches the same set through the broadcast band index +
    // candidate-only verify). Self-pairs (a benchmark doc IS a corpus
    // doc) count at jaccard 1.
    "q_decontaminate_fuzzy" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS sh
         |  FROM tok, UNNEST(generate_series(1, len(ts)-1)) AS t(i)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND b.doc_id % 50 = 0
         |  GROUP BY 1, 2),
         |j AS (SELECT d1, d2,
         |  CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
         |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id
         |  JOIN sizes s2 ON d2 = s2.doc_id)
         |SELECT d1 AS doc_id, count(*) AS n_bench_hits,
         |  round(max(jaccard), 6) AS max_jaccard
         |FROM j WHERE jaccard >= 0.5 GROUP BY 1
         |ORDER BY doc_id""".stripMargin,
    // the same per-source rollup; entropy via H = ln T - (sum c ln c)/T
    "q_source_diversity" ->
      s"""WITH tok AS (SELECT doc_id, source, $TokensSql AS ts
         |  FROM documents),
         |tt AS (SELECT source AS key, t FROM tok, UNNEST(ts) AS u(t)),
         |c AS (SELECT key, t, count(*) AS c FROM tt GROUP BY 1, 2),
         |r AS (SELECT key, CAST(sum(c) AS BIGINT) AS total_tokens,
         |  CAST(count(*) AS BIGINT) AS distinct_tokens,
         |  sum(c * ln(c)) AS clc FROM c GROUP BY 1),
         |d AS (SELECT source AS key, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT r.key, d.n_docs, total_tokens, distinct_tokens,
         |  round(CAST(distinct_tokens AS DOUBLE) / total_tokens, 6) AS ttr,
         |  round(ln(CAST(total_tokens AS DOUBLE)) - clc / total_tokens, 6)
         |    AS shannon
         |FROM r JOIN d ON r.key = d.key ORDER BY r.key""".stripMargin,
    // least-squares ln(freq) ~ ln(rank) over the same top-k vocabulary
    "q_zipf_slope" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |tf AS (SELECT t, CAST(count(*) AS DOUBLE) AS freq
         |  FROM tok, UNNEST(ts) AS u(t) GROUP BY 1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM tf),
         |top AS (SELECT t, freq,
         |  row_number() OVER (ORDER BY freq DESC, t ASC) AS rank
         |  FROM tf ORDER BY freq DESC, t ASC LIMIT 1000),
         |p AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(freq) AS y
         |  FROM top),
         |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
         |  sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
         |SELECT vocab_size,
         |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
         |  round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
         |    * sx / n, 6) AS intercept
         |FROM a, v""".stripMargin,
    "q_pipeline_clean" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |q AS (SELECT doc_id FROM t WHERE len(ts) >= 5
         |  AND 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE)/len(ts) <= 0.5),
         |pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |dropd AS (SELECT node FROM reach GROUP BY node
         |  HAVING node != min(r))
         |SELECT doc_id FROM q
         |WHERE doc_id NOT IN (SELECT node FROM dropd)
         |ORDER BY doc_id""".stripMargin,
    "q_sessionize" ->
      """WITH m AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
        |  THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |  AS sid FROM m)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) AS last_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    // identical island formulation over the hot-user remap (every
    // fifth event -> user 1) — the skewed group's merged session
    // chain must match the engine's session_window output exactly
    "q_sessionize_skew" ->
      """WITH ev AS (SELECT CASE WHEN event_id % 5 = 0 THEN 1
        |    ELSE user_id END AS user_id, ts FROM events),
        |m AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
        |  THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |  AS sid FROM m)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) AS last_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "q_overlap_join" ->
      """WITH m AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
        |  THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |  AS sid FROM m),
        |sess AS (SELECT epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) AS last_us FROM s GROUP BY user_id, sid),
        |mm AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
        |  FROM events),
        |wins AS (SELECT CAST(t.k AS BIGINT) AS window_id,
        |  lo + t.k * ((hi - lo) // 10) AS w_start,
        |  lo + t.k * ((hi - lo) // 10) + ((hi - lo) // 12) AS w_end
        |  FROM mm, UNNEST(generate_series(0, 7)) AS t(k))
        |SELECT window_id,
        |  CAST(count(sess.start_us) AS BIGINT) AS n_sessions
        |FROM wins LEFT JOIN sess
        |  ON sess.start_us <= wins.w_end AND wins.w_start <= sess.last_us
        |GROUP BY window_id ORDER BY window_id""".stripMargin,
    "q_asof_forward" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  (SELECT e.event_id FROM events e
        |   WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |     AND e.ts >= p.ts
        |   ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) AS err_event_id,
        |  (SELECT e.value FROM events e
        |   WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |     AND e.ts >= p.ts
        |   ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) AS err_value
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  v.event_id AS view_event_id, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  (SELECT count(*) FROM events e
        |   WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |     AND e.ts >= p.ts
        |     AND e.ts < p.ts + INTERVAL 15 MINUTES) AS n_follow
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node)
         |SELECT node AS member, min(r) AS root FROM reach
         |GROUP BY node ORDER BY member""".stripMargin,
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |cl AS (SELECT node AS member, min(r) AS root FROM reach
         |  GROUP BY node)
         |SELECT root, canonical, n_chars FROM (
         |  SELECT cl.root, cl.member AS canonical, d.n_chars,
         |    row_number() OVER (PARTITION BY cl.root
         |      ORDER BY d.n_chars DESC, cl.member) AS rn
         |  FROM cl JOIN documents d ON d.doc_id = cl.member)
         |WHERE rn = 1 ORDER BY root""".stripMargin,
    "q_dedup_soft" ->
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |cl AS (SELECT node AS member, min(r) AS root FROM reach
         |  GROUP BY node),
         |sz AS (SELECT root, count(*) AS csz FROM cl GROUP BY root),
         |w AS (SELECT cl.member AS doc_id,
         |  round(CAST(1.0 AS DOUBLE) / sz.csz, 6) AS weight
         |  FROM cl JOIN sz USING (root))
         |SELECT d.doc_id, coalesce(w.weight, CAST(1.0 AS DOUBLE)) AS weight
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_sentences" ->
      """WITH w AS (SELECT doc_id, replace(text, ' a ', '. ') AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |  list_filter(list_transform(
        |    regexp_extract_all(t, '[^.!?]+[.!?]*'), s -> trim(s)),
        |    s -> s <> '') AS ls
        |  FROM w)
        |SELECT doc_id, CAST(t.i - 1 AS INT) AS sent_idx,
        |  ls[t.i] AS sentence
        |FROM l, UNNEST(generate_series(1, len(ls))) AS t(i)
        |ORDER BY doc_id, sent_idx""".stripMargin,
    "q_script_profile" ->
      """WITH c AS (SELECT doc_id,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS INT)
        |    AS n_latin,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[\p{Cyrillic}]', '', 'g')) AS INT)
        |    AS n_cyrillic,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[\p{Han}]', '', 'g')) AS INT)
        |    AS n_han,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[\p{Hiragana}\p{Katakana}]', '', 'g'))
        |    AS INT) AS n_kana,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[\p{Hangul}]', '', 'g')) AS INT)
        |    AS n_hangul,
        |  CAST(length(text) -
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit
        |  FROM documents),
        |b AS (SELECT *,
        |  greatest(n_latin, n_cyrillic, n_han, n_kana, n_hangul) AS best
        |  FROM c)
        |SELECT doc_id, n_latin, n_cyrillic, n_han, n_kana, n_hangul,
        |  n_digit,
        |  CASE WHEN best IS NULL OR best = 0 THEN 'und'
        |       WHEN n_latin = best THEN 'latin'
        |       WHEN n_cyrillic = best THEN 'cyrillic'
        |       WHEN n_han = best THEN 'han'
        |       WHEN n_kana = best THEN 'kana'
        |       ELSE 'hangul' END AS dominant
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_normalize_text" ->
      """WITH w AS (SELECT doc_id,
        |  '<div class="post">' || chr(13) || chr(10) || chr(10) || chr(10) ||
        |  '  <p>' || replace(text, ' ', '&nbsp;') || '</p>' || chr(1) ||
        |  '<!-- footer -->&amp;lt;end&gt;</div>' AS t FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
        |  FROM w),
        |s2 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(t, '\r\n?', chr(10), 'g'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS t
        |  FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t
        |  FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t
        |  FROM s4),
        |s6 AS (SELECT doc_id,
        |  regexp_replace(t, '\n{3,}', chr(10) || chr(10), 'g') AS t FROM s5)
        |SELECT doc_id, regexp_replace(t, '^\s+|\s+$', '', 'g') AS norm_text
        |FROM s6 ORDER BY doc_id""".stripMargin,
    "q_split_leakage" ->
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |cl AS (SELECT node AS member, min(r) AS root FROM reach
         |  GROUP BY node),
         |k AS (SELECT d.doc_id,
         |  coalesce(cl.root, d.doc_id) AS group_key,
         |  md5('csplit:' || CAST(coalesce(cl.root, d.doc_id) AS VARCHAR)) AS h
         |  FROM documents d LEFT JOIN cl ON cl.member = d.doc_id),
         |b AS (SELECT doc_id, group_key, ${bucketSql("h")} AS bucket
         |  FROM k)
         |SELECT doc_id, group_key, bucket,
         |  ${splitCaseSql("bucket")} AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_corpus_report" ->
      s"""SELECT source, count(*) AS n_docs,
         |CAST(SUM(len($TokensSql)) AS BIGINT) AS n_tokens,
         |CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
         |CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)
         |  AS dup_rate
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_length_quantiles" ->
      s"""WITH t AS (SELECT source, len($TokensSql) AS n_tokens
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
         |  round(quantile_cont(n_tokens, 0.9), 6) AS p90,
         |  round(quantile_cont(n_tokens, 0.99), 6) AS p99
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_minhash" ->
      s"SELECT d1, d2 FROM ($JaccardPairsSql) ORDER BY d1, d2",
    // incremental = the exact pair set restricted to pairs involving a
    // batch (id%10==7) doc — banding recall is full on this corpus
    "q_dedup_minhash_inc" ->
      (s"SELECT d1, d2 FROM ($JaccardPairsSql) " +
        "WHERE d1 % 10 = 7 OR d2 % 10 = 7 ORDER BY d1, d2"),
    "q_kmeans" ->
      (kmeansSql(10, 2) + "\nSELECT vec_id, cluster FROM af ORDER BY vec_id"),
    "q_dedup_semantic" ->
      (kmeansSql(10, 2) + """,
        |m AS (SELECT af.cluster, af.vec_id, e.v FROM af JOIN e USING (vec_id))
        |SELECT a.cluster AS cluster, a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM m a JOIN m b
        |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY a.cluster, v1, v2""".stripMargin),
    "q_dedup_semantic_2l" ->
      (sem2lSql(10, 4, 2, 2) + """
        |SELECT a.cluster AS cluster, a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM m2 a JOIN m2 b
        |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY a.cluster, v1, v2""".stripMargin),
    "q_lm_score" -> (LmScoreSql + "\nSELECT doc_id, lm_logp FROM sc " +
      "ORDER BY doc_id"),
    "q_pmi" ->
      s"""WITH tokd AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |u AS (SELECT UNNEST(ts) AS t FROM tokd),
         |uc AS (SELECT t, count(*) AS cu FROM u GROUP BY 1),
         |b AS (SELECT ts[i] || ' ' || ts[i+1] AS g FROM tokd,
         |  UNNEST(generate_series(1, len(ts)-1)) AS x(i)),
         |bc AS (SELECT g, count(*) AS cab FROM b GROUP BY 1
         |  HAVING count(*) >= 5),
         |tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM u) AS nu,
         |  (SELECT CAST(count(*) AS DOUBLE) FROM b) AS nb)
         |SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2]
         |    AS w2, cab,
         |  round(ln(CAST(cab AS DOUBLE) * nu * nu /
         |    (nb * CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))), 6)
         |    AS pmi
         |FROM bc CROSS JOIN tot
         |JOIN uc u1 ON u1.t = string_split(g, ' ')[1]
         |JOIN uc u2 ON u2.t = string_split(g, ' ')[2]
         |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_lm_bigram" ->
      s"""WITH tokd AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |occ AS (SELECT doc_id, ts[i] AS t, ts[i] || ' ' || ts[i+1] AS g
         |  FROM tokd, UNNEST(generate_series(1, len(ts)-1)) AS x(i)),
         |bi AS (SELECT g, count(*) AS cab FROM occ GROUP BY 1),
         |uni AS (SELECT t, count(*) AS ca FROM occ GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v FROM occ)
         |SELECT doc_id, round(avg(ln(cab + 1.0) - ln(ca + v)), 6)
         |  AS lm2_logp
         |FROM occ JOIN bi USING (g) JOIN uni USING (t) CROSS JOIN vv
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_quality_classifier" ->
      s"""WITH seed AS (SELECT doc_id, source AS cls, text
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |socc AS (SELECT cls, unnest($TokensSql) AS tok FROM seed),
         |ccnt AS (SELECT cls, tok, count(*) AS c FROM socc GROUP BY 1, 2),
         |clsn AS (SELECT cls, CAST(sum(c) AS DOUBLE) AS nc FROM ccnt
         |  GROUP BY 1),
         |pri AS (SELECT cls, CAST(count(*) AS DOUBLE) AS ndocs,
         |  (SELECT CAST(count(*) AS DOUBLE) FROM seed) AS ntot
         |  FROM seed GROUP BY cls),
         |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM socc),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM
         |  (SELECT doc_id, unnest($TokensSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
         |m AS (SELECT tf.doc_id, ccnt.cls, sum(tf * ln(c + 1.0)) AS lnum
         |  FROM tf JOIN ccnt USING (tok) GROUP BY 1, 2),
         |sc AS (SELECT dl.doc_id, c2.cls,
         |  ln(pri.ndocs / pri.ntot) + COALESCE(m.lnum, 0.0)
         |    - dl.len * ln(clsn.nc + vv.v) AS score
         |  FROM dl CROSS JOIN (SELECT DISTINCT cls FROM clsn) c2
         |  LEFT JOIN m ON m.doc_id = dl.doc_id AND m.cls = c2.cls
         |  JOIN clsn ON clsn.cls = c2.cls
         |  JOIN pri ON pri.cls = c2.cls
         |  CROSS JOIN vv)
         |SELECT doc_id,
         |  max(CASE WHEN rn = 1 THEN cls END) AS pred,
         |  round(max(CASE WHEN rn = 1 THEN score END)
         |    - max(CASE WHEN rn = 2 THEN score END), 6) AS margin
         |FROM (SELECT doc_id, cls, score, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
         |  FROM sc)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_quality_prune" -> (LmScoreSql + """,
      |j AS (SELECT sc.doc_id, d.source, sc.lm_logp
      |  FROM sc JOIN documents d USING (doc_id)),
      |th AS (SELECT source, round(quantile_cont(lm_logp, 0.1), 6) AS th
      |  FROM j GROUP BY 1)
      |SELECT doc_id, source, lm_logp FROM j JOIN th USING (source)
      |WHERE lm_logp >= th ORDER BY doc_id""".stripMargin),
    "q_perplexity_buckets" -> (LmScoreSql + """,
      |j AS (SELECT sc.doc_id, d.source, sc.lm_logp
      |  FROM sc JOIN documents d USING (doc_id)),
      |th AS (SELECT source,
      |    round(quantile_cont(lm_logp, 1.0/3), 6) AS t1,
      |    round(quantile_cont(lm_logp, 2.0/3), 6) AS t2
      |  FROM j GROUP BY 1)
      |SELECT doc_id, source, lm_logp,
      |  CASE WHEN lm_logp >= t2 THEN 'head'
      |       WHEN lm_logp >= t1 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM j JOIN th USING (source) ORDER BY doc_id""".stripMargin),
    "q_dedup_substring" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+15], ' ')
         |    AS g
         |  FROM tok, UNNEST(generate_series(1, len(ts)-15)) AS t(i))
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_grams
         |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin,
    "q_clean_c4" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_replace(text, '((\S+ ){3}\S+) ', '\1'||chr(10), 'g')
        |    AS rt FROM documents),
        |l AS (SELECT doc_id,
        |  list_filter(string_split(rt, chr(10)), x -> x <> '') AS lines
        |  FROM t),
        |k AS (SELECT doc_id, lines, list_filter(lines, x ->
        |  len(list_filter(string_split_regex(x, '\s+'), w -> w <> '')) >= 4
        |  AND NOT contains(lower(x), 'slow')
        |  AND NOT contains(x, '{')) AS kept FROM l)
        |SELECT doc_id, CAST(len(lines) AS INTEGER) AS n_lines,
        |  CAST(len(kept) AS INTEGER) AS n_kept,
        |  len(kept) >= 3 AS page_keep,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS v1, b.vec_id AS v2
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    // the LSH variant's grounding: DuckDB recomputes the exact pair
    // count; the engine's subset/recall booleans must hold against it
    "q_dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_extra,
        |  true AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,
    // the production-threshold variant: DuckDB re-plants the truth
    // set byte-for-byte (same modular sign rule, same float32
    // round-trip) and recomputes its exact cosines — n_planted and
    // n_true are hash-pinned; the engine's recall/precision booleans
    // must hold against that independently-derived truth
    "q_dedup_embedding_prod" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id AS src, vec_id + 1000000000000 AS pid,
        |  list_transform(generate_series(1, len(v)), i ->
        |    CAST(CAST(v[i] * (1.0 + 0.3 * (CASE WHEN
        |      ((vec_id + 1000000000000) * 131 + i * 7919) % 1000003 % 2 = 0
        |      THEN 1.0 ELSE -1.0 END)) AS REAL) AS DOUBLE)) AS pv
        |  FROM e),
        |t AS (SELECT e.vec_id AS v1, p.pid AS v2,
        |  round(list_cosine_similarity(e.v, p.pv), 6) AS c
        |  FROM e JOIN p ON p.src = e.vec_id)
        |SELECT (SELECT count(*) FROM t) AS n_planted,
        |  (SELECT count(*) FROM t WHERE c >= 0.9) AS n_true,
        |  CAST(0 AS BIGINT) AS n_extra, true AS recall_ok""".stripMargin,
    "q_dedup_simhash" ->
      """WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents)
        |SELECT count(*) AS n_exactdup, CAST(0 AS BIGINT) AS n_missed
        |FROM d a JOIN d b ON a.dg = b.dg AND a.doc_id < b.doc_id"""
        .stripMargin,
    "q_knn" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // ANN grounding: DuckDB independently ranks the exact top-1 per
    // query; the engine's recall_ok booleans must hold against its
    // own exact top-5 (computed by the same oracle-checked q_knn path)
    "q_knn_lsh" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id AS exact_top1, true AS recall_ok
        |FROM (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank = 1
        |ORDER BY query_id""".stripMargin,
    "q_knn_sq8" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id AS exact_top1, true AS recall_ok
        |FROM (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank = 1
        |ORDER BY query_id""".stripMargin,
    "q_knn_ivf" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id AS exact_top1, true AS recall_ok
        |FROM (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank = 1
        |ORDER BY query_id""".stripMargin,
    "q_pipeline_full" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |q AS (SELECT doc_id FROM t WHERE len(ts) >= 5
         |  AND 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE)/len(ts) <= 0.5),
         |pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |dropd AS (SELECT node FROM reach GROUP BY node
         |  HAVING node != min(r)),
         |gr AS (SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
         |  FROM t, UNNEST(generate_series(1, len(ts)-7)) AS t2(i)),
         |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 50 = 0),
         |cont AS (SELECT DISTINCT gr.doc_id FROM gr JOIN bg USING (g)),
         |kept AS (SELECT d.doc_id, d.source FROM documents d
         |  JOIN q USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT node FROM dropd)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM cont)),
         |quota AS (SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM kept) WHERE rn <= 10),
         |pd AS (SELECT k.source AS key, k.doc_id, len(t.ts) AS n_tokens,
         |  row_number() OVER (PARTITION BY k.source ORDER BY k.doc_id) AS rn
         |  FROM quota k JOIN t USING (doc_id)),
         |p(key, rn, doc_id, n_tokens, bin, fill) AS (
         |  SELECT key, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM pd WHERE rn = 1
         |  UNION ALL
         |  SELECT pd.key, pd.rn, pd.doc_id, pd.n_tokens,
         |    CASE WHEN p.fill + pd.n_tokens > 256 THEN p.bin + 1
         |         ELSE p.bin END,
         |    CASE WHEN p.fill + pd.n_tokens > 256 THEN pd.n_tokens
         |         ELSE p.fill + pd.n_tokens END
         |  FROM pd JOIN p ON pd.key = p.key AND pd.rn = p.rn + 1)
         |SELECT key, doc_id, bin FROM p ORDER BY key, doc_id""".stripMargin,
    "q_dedup_incremental" ->
      """WITH c AS (SELECT DISTINCT md5(text) AS dg FROM documents
        |  WHERE doc_id < 250),
        |i AS (SELECT doc_id, md5(text) AS dg FROM documents
        |  WHERE doc_id >= 250)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY dg
        |    ORDER BY doc_id) AS rn
        |  FROM i WHERE dg NOT IN (SELECT dg FROM c))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // the Bloom path must give EXACTLY the join-based answer (no false
    // negatives by the sketch property; false positives removed by the
    // verify join) — so its oracle IS the incremental-dedup SQL
    "q_dedup_bloom" ->
      """WITH c AS (SELECT DISTINCT md5(text) AS dg FROM documents
        |  WHERE doc_id < 250),
        |i AS (SELECT doc_id, md5(text) AS dg FROM documents
        |  WHERE doc_id >= 250)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY dg
        |    ORDER BY doc_id) AS rn
        |  FROM i WHERE dg NOT IN (SELECT dg FROM c))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_paragraph" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_replace(text, '((\S+ ){3}\S+) ', '\1'||chr(10), 'g')
        |    AS rt FROM documents),
        |l0 AS (SELECT doc_id, string_split(rt, chr(10)) AS ls FROM t),
        |l AS (SELECT doc_id, i AS idx, ls[i] AS line
        |  FROM l0, UNNEST(generate_series(1, len(ls))) AS g(i)
        |  WHERE ls[i] <> ''),
        |kept AS (SELECT doc_id, idx, line FROM (
        |  SELECT doc_id, idx, line, row_number() OVER (PARTITION BY line
        |    ORDER BY doc_id, idx) AS rn FROM l) WHERE rn = 1),
        |agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY idx) AS dedup_text
        |  FROM kept GROUP BY doc_id),
        |nl AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lines
        |  FROM l GROUP BY doc_id)
        |SELECT nl.doc_id, n_lines, COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(dedup_text, '') AS dedup_text
        |FROM nl LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      s"""WITH occ AS (SELECT doc_id, unnest($TokensSql) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM occ GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |sc AS (SELECT doc_id, term,
         |  round(tf * (ln((1.0 + n) / (1.0 + df)) + 1.0), 6) AS tfidf
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nn)
         |SELECT doc_id, term, tfidf, rank FROM (
         |  SELECT doc_id, term, tfidf, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
         |  FROM sc) WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,
    "q_dedup_spans" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |  array_to_string(ts[i:i+15], ' ') AS g
         |  FROM tok, UNNEST(generate_series(1, len(ts)-15)) AS t(i)),
         |r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY g
         |  ORDER BY doc_id, pos) AS rn FROM g),
         |cov AS (SELECT DISTINCT doc_id, tp FROM r,
         |  UNNEST(generate_series(pos, pos+15)) AS c(tp) WHERE rn > 1),
         |tp AS (SELECT doc_id, i - 1 AS tp, ts[i] AS tok
         |  FROM tok, UNNEST(generate_series(1, len(ts))) AS t(i)),
         |kept AS (SELECT tp.doc_id, tp.tp, tp.tok FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tp.doc_id AND cov.tp = tp.tp)),
         |agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY tp) AS clean_text
         |  FROM kept GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ts) AS INTEGER) AS n_tokens,
         |  COALESCE(n_kept, 0) AS n_kept,
         |  COALESCE(clean_text, '') AS clean_text
         |FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""
        .stripMargin,
    "q_quota_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "q_redact_pii" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or 555-' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |  '-1234 from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g')
        |    AS redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |g AS (SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
         |  FROM tok, UNNEST(generate_series(1, len(ts)-7)) AS t(i)),
         |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0)
         |SELECT DISTINCT g.doc_id FROM g JOIN bg USING (g)
         |ORDER BY doc_id""".stripMargin,
    "q_curriculum" ->
      """WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents)
        |SELECT doc_id, n_chars, rank,
        |  CAST((rank - 1) % 4 AS INT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_contamination_frac" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS g
         |  FROM tok, UNNEST(generate_series(1, len(ts)-7)) AS t(i)),
         |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
         |f AS (SELECT g.doc_id,
         |  round(CAST(sum(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 6) AS contamination
         |  FROM g LEFT JOIN bg ON g.g = bg.g GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  coalesce(f.contamination, CAST(0.0 AS DOUBLE)) AS contamination
         |FROM documents d LEFT JOIN f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH RECURSIVE d AS (SELECT source AS key, doc_id,
         |  len($TokensSql) AS n_tokens,
         |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |p(key, rn, doc_id, n_tokens, bin, fill) AS (
         |  SELECT key, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.key, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN p.fill + d.n_tokens > 256 THEN p.bin + 1
         |         ELSE p.bin END,
         |    CASE WHEN p.fill + d.n_tokens > 256 THEN d.n_tokens
         |         ELSE p.fill + d.n_tokens END
         |  FROM d JOIN p ON d.key = p.key AND d.rn = p.rn + 1)
         |SELECT key, doc_id, n_tokens, bin FROM p
         |ORDER BY key, doc_id""".stripMargin,
    // the same waterfilling closed form, relationally: prefix sums in
    // constraint order (n/q ascending) decide the capped set, the
    // leftover budget spreads over the uncapped remainder
    "q_mixture_alpha" ->
      """WITH c AS (SELECT lang AS source,
        |    CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        |s AS (SELECT source, n, n / sum(n) OVER () AS p FROM c),
        |q AS (SELECT source, n, p,
        |    round(pow(p, 0.5) / sum(pow(p, 0.5)) OVER (), 12) AS q FROM s),
        |o AS (SELECT *, sum(n) OVER w - n AS prev_n,
        |    sum(q) OVER w - q AS prev_q
        |  FROM q WINDOW w AS (ORDER BY n / q ASC, source ASC)),
        |m AS (SELECT *,
        |    ((450 - prev_n) * q >= (1 - prev_q) * n) AS capped FROM o),
        |agg AS (SELECT
        |    coalesce(sum(CASE WHEN capped THEN n END), 0) AS cap_n,
        |    coalesce(sum(CASE WHEN capped THEN q END), 0) AS cap_q
        |  FROM m)
        |SELECT source, CAST(n AS BIGINT) AS n_docs, round(p, 6) AS share,
        |  round(q, 6) AS target_share,
        |  round(round(CASE WHEN capped THEN 1.0
        |    ELSE least(1.0, (450 - cap_n) * q / ((1 - cap_q) * n)) END,
        |    12), 6) AS rate
        |FROM m, agg ORDER BY source""".stripMargin,
    "q_mixture_sample" -> {
      val rateCase = MixRates.toSeq.sortBy(_._1).map { case (k, r) =>
        s"WHEN source = '$k' THEN $r" }.mkString(" ")
      s"""WITH h AS (SELECT doc_id, source,
         |  md5('mix:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
         |SELECT doc_id, source FROM h
         |WHERE $mixUSql <
         |  CASE $rateCase ELSE 1.0 END
         |ORDER BY doc_id""".stripMargin
    },
    "q_chunk_docs" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |c AS (SELECT doc_id, CAST((i - 1) // 32 AS INTEGER) AS chunk_idx,
         |  ts[i:least(i + 63, len(ts))] AS chunk
         |  FROM tok, UNNEST(generate_series(1, len(ts), 32)) AS a(i))
         |SELECT doc_id, chunk_idx,
         |  CAST(len(chunk) AS INTEGER) AS chunk_tokens,
         |  array_to_string(chunk, ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_bm25_rank" -> bm25Sql(Bm25Terms, 20),
    "q_hybrid_rank" -> hybridSql(Bm25Terms, 50, 20),
    "q_quality_repetition" ->
      s"""WITH t AS (SELECT doc_id,
         |  regexp_replace(text, '((\\S+ ){2}\\S+) ', '\\1'||chr(10), 'g')
         |    AS rt FROM documents),
         |tok AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(rt), '[^a-z0-9]+'),
         |    x -> x <> '') AS ts FROM t),
         |l AS (SELECT doc_id, line FROM t,
         |  UNNEST(list_filter(string_split(rt, chr(10)), x -> x <> ''))
         |    AS u(line)),
         |lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
         |  FROM l GROUP BY 1, 2),
         |lm AS (SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_lines,
         |  1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup_line_frac,
         |  CAST(sum(CASE WHEN cnt > 1 THEN cnt*len ELSE 0 END) AS DOUBLE)
         |    / sum(cnt*len) AS dup_line_char_frac
         |  FROM lc GROUP BY 1),
         |tw AS (SELECT doc_id, length(array_to_string(ts, '')) AS wchars
         |  FROM tok),
         |g2 AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
         |  FROM tok, UNNEST(generate_series(1, len(ts)-1)) AS a(i)),
         |g3 AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS gram
         |  FROM tok, UNNEST(generate_series(1, len(ts)-2)) AS a(i)),
         |g4 AS (SELECT doc_id, array_to_string(ts[i:i+3], ' ') AS gram
         |  FROM tok, UNNEST(generate_series(1, len(ts)-3)) AS a(i)),
         |gc2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1,2),
         |gc3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1,2),
         |gc4 AS (SELECT doc_id, gram, count(*) AS cnt FROM g4 GROUP BY 1,2),
         |t2 AS (SELECT doc_id, cnt*(length(gram)-1) AS mass FROM (
         |  SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, gram ASC) AS rn FROM gc2) WHERE rn = 1),
         |t3 AS (SELECT doc_id, cnt*(length(gram)-2) AS mass FROM (
         |  SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, gram ASC) AS rn FROM gc3) WHERE rn = 1),
         |t4 AS (SELECT doc_id, cnt*(length(gram)-3) AS mass FROM (
         |  SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, gram ASC) AS rn FROM gc4) WHERE rn = 1),
         |d2 AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN cnt > 1 THEN cnt*(length(gram)-1) ELSE 0 END)
         |    AS DOUBLE) / sum(cnt*(length(gram)-1)) AS dup_2gram_frac
         |  FROM gc2 GROUP BY 1)
         |SELECT lm.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
         |  COALESCE(CAST(t2.mass AS DOUBLE) / tw.wchars, 0.0)
         |    AS top_2gram_frac,
         |  COALESCE(CAST(t3.mass AS DOUBLE) / tw.wchars, 0.0)
         |    AS top_3gram_frac,
         |  COALESCE(CAST(t4.mass AS DOUBLE) / tw.wchars, 0.0)
         |    AS top_4gram_frac,
         |  COALESCE(d2.dup_2gram_frac, 0.0) AS dup_2gram_frac
         |FROM lm JOIN tw USING (doc_id)
         |LEFT JOIN t2 ON lm.doc_id = t2.doc_id
         |LEFT JOIN t3 ON lm.doc_id = t3.doc_id
         |LEFT JOIN t4 ON lm.doc_id = t4.doc_id
         |LEFT JOIN d2 ON lm.doc_id = d2.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_corpus_split" ->
      s"""WITH h AS (SELECT doc_id,
         |  md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |b AS (SELECT doc_id, ${bucketSql("h")} AS bucket FROM h)
         |SELECT doc_id, bucket, ${splitCaseSql("bucket")} AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id, len($TokensSql) AS n_tokens,
         |length(text) AS n_chars,
         |len(list_distinct($TokensSql)) AS n_distinct_tokens,
         |CAST(floor(length(regexp_replace(text, '\\s+', '', 'g')) / 4
         |  + len($TokensSql)) AS BIGINT) AS bpe_token_estimate
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_vocab" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |occ AS (SELECT doc_id, unnest(ts) AS term FROM tok),
         |tf AS (SELECT term, count(*) AS freq FROM occ GROUP BY 1),
         |dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
         |  FROM occ GROUP BY 1)
         |SELECT tf.term, freq, doc_freq FROM tf JOIN dfq USING(term)
         |ORDER BY freq DESC, term ASC LIMIT 100""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $TokensSql AS ts FROM documents)
         |SELECT doc_id, len(ts) AS n_tokens,
         |CAST(len(list_filter(ts, x -> list_contains(
         |  ['the','a','an','and','of','to','in','is','it','for'], x)))
         |  AS DOUBLE) / len(ts) AS stopword_ratio,
         |length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
         |  / length(text) AS punct_ratio,
         |length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(ts)
         |  AS mean_word_len,
         |1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
         |  AS repetition
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_bpe" ->
      s"""WITH w AS (SELECT tok AS w, count(*) AS freq
         |  FROM (SELECT UNNEST($TokensSql) AS tok FROM documents)
         |  GROUP BY 1),
         |p AS (SELECT substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM w, UNNEST(generate_series(1, length(w) - 1)) AS t(i)
         |  GROUP BY 1, 2)
         |SELECT CAST(8 AS INT) AS n_merges, a AS top1_left,
         |  b AS top1_right, cnt AS top1_count,
         |  TRUE AS counts_nonincreasing, TRUE AS merge_closure_ok
         |FROM p ORDER BY cnt DESC, a ASC, b ASC LIMIT 1""".stripMargin,
    "q_dsir" ->
      s"""WITH occ AS (SELECT doc_id, source = 'src0' AS tgt,
         |  UNNEST($TokensSql) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c_raw,
         |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
         |  FROM occ GROUP BY 1),
         |s AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS n_raw,
         |  CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
         |  CAST(count(*) AS DOUBLE) AS v FROM c),
         |sc AS (SELECT doc_id,
         |  round(avg((ln(c_tgt + 1.0) - ln(n_tgt + v)) -
         |            (ln(c_raw + 1.0) - ln(n_raw + v))), 6)
         |    AS dsir_logratio
         |  FROM occ JOIN c USING (tok) CROSS JOIN s
         |  GROUP BY doc_id)
         |SELECT doc_id, dsir_logratio, dsir_logratio > 0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_quality_gopher" ->
      s"""WITH t AS (SELECT doc_id, text, $TokensSql AS ts FROM documents),
         |r AS (SELECT doc_id,
         |  len(ts) AS n_tokens,
         |  len(ts) BETWEEN 30 AND 100000 AS rule_len,
         |  len(ts) > 0 AND
         |    length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(ts)
         |    BETWEEN 3 AND 10 AS rule_word_len,
         |  length(text) > 0 AND
         |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
         |    / length(text) <= 0.1 AS rule_symbol,
         |  len(list_filter(list_distinct(ts), x -> list_contains(
         |    ['the','a','an','and','of','to','in','is','it','for'], x)))
         |    >= 2 AS rule_stop,
         |  len(ts) > 0 AND
         |    CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) >= 0.3
         |    AS rule_rep
         |FROM t)
         |SELECT *, rule_len AND rule_word_len AND rule_symbol AND
         |  rule_stop AND rule_rep AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      s"""WITH t AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |s AS (SELECT doc_id, $LangScores FROM t),
         |b AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS best FROM s)
         |SELECT doc_id, CASE
         |  WHEN best = 0 THEN 'und'
         |  WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
         |  WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
         |  ELSE 'und' END AS lang_guess
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_file_meta" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |'application/octet-stream' AS mimeType,
        |octet_length(encode(text)) AS dataLength,
        |sha256(text) AS sha256
        |FROM documents ORDER BY path""".stripMargin,
    "q_file_decode" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(4 + (doc_id % 4) * 2 AS BIGINT) AS width,
        |  CAST(5 + (doc_id % 3) * 2 AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, (4 + (doc_id % 4) * 2) *
        |                       (5 + (doc_id % 3) * 2) - 1),
        |    i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY path""".stripMargin,
    // BMP/GIF are lossless: identical oracle to q_file_decode — the
    // closed-form gradient pins the ImageIO decode exactly
    "q_image_decode_bmp" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(4 + (doc_id % 4) * 2 AS BIGINT) AS width,
        |  CAST(5 + (doc_id % 3) * 2 AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, (4 + (doc_id % 4) * 2) *
        |                       (5 + (doc_id % 3) * 2) - 1),
        |    i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY path""".stripMargin,
    "q_image_decode_gif" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(4 + (doc_id % 4) * 2 AS BIGINT) AS width,
        |  CAST(5 + (doc_id % 3) * 2 AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, (4 + (doc_id % 4) * 2) *
        |                       (5 + (doc_id % 3) * 2) - 1),
        |    i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY path""".stripMargin,
    // JPEG is lossy: dims exact, per-pixel tone within ±8 as a boolean
    "q_image_decode_jpeg" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(8 + (doc_id % 3) * 8 AS BIGINT) AS width,
        |  CAST(8 + (doc_id % 2) * 8 AS BIGINT) AS height,
        |  TRUE AS tone_ok
        |FROM documents ORDER BY path""".stripMargin,
    "q_video_frames" ->
      """SELECT path, frame_no, width, height,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, CAST(width * height - 1 AS BIGINT)),
        |    i -> (did * 13 + frame_no * 7 + i * 5) % 256)) AS BIGINT)
        |    AS pixel_sum
        |FROM (
        |  SELECT doc_id AS did,
        |    '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |    unnest(generate_series(0, CAST(2 + doc_id % 3 AS BIGINT)))
        |      AS frame_no,
        |    CAST(6 AS BIGINT) AS width,
        |    CAST(4 + (doc_id % 2) * 2 AS BIGINT) AS height
        |  FROM documents)
        |ORDER BY path, frame_no""".stripMargin,
    "q_video_sample" ->
      """SELECT path, frame_no,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, CAST(width * height - 1 AS BIGINT)),
        |    i -> (did * 13 + frame_no * 7 + i * 5) % 256)) AS BIGINT)
        |    AS pixel_sum
        |FROM (
        |  SELECT doc_id AS did,
        |    '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |    unnest(generate_series(0, CAST(2 + doc_id % 3 AS BIGINT)))
        |      AS frame_no,
        |    CAST(6 AS BIGINT) AS width,
        |    CAST(4 + (doc_id % 2) * 2 AS BIGINT) AS height
        |  FROM documents)
        |WHERE frame_no % 2 = 0
        |ORDER BY path, frame_no""".stripMargin,
    // 2×2 pooling over the same closed-form frames: output pixel o
    // (row-major over a 3×(h/2) grid) pools source indices
    // b, b+1, b+6, b+7 where b = (o//3)·2·6 + (o%3)·2; the engine's
    // round(p·1020) is exactly that 4-value sum
    "q_image_resize" ->
      """SELECT path, frame_no,
        |  CAST(3 AS BIGINT) AS width,
        |  CAST(height / 2 AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, CAST(3 * (height / 2) - 1 AS BIGINT)),
        |    o -> ((did * 13 + frame_no * 7
        |             + ((o // 3) * 12 + (o % 3) * 2) * 5) % 256
        |        + (did * 13 + frame_no * 7
        |             + ((o // 3) * 12 + (o % 3) * 2 + 1) * 5) % 256
        |        + (did * 13 + frame_no * 7
        |             + ((o // 3) * 12 + (o % 3) * 2 + 6) * 5) % 256
        |        + (did * 13 + frame_no * 7
        |             + ((o // 3) * 12 + (o % 3) * 2 + 7) * 5) % 256)
        |       * (o + 1))) AS BIGINT) AS pooled_wsum
        |FROM (
        |  SELECT doc_id AS did,
        |    '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |    unnest(generate_series(0, CAST(2 + doc_id % 3 AS BIGINT)))
        |      AS frame_no,
        |    CAST(4 + (doc_id % 2) * 2 AS BIGINT) AS height
        |  FROM documents)
        |ORDER BY path, frame_no""".stripMargin,
    "q_image_knn" ->
      """WITH px AS (
        |  SELECT doc_id AS did,
        |    '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |    (4 + (doc_id % 4) * 2) * (5 + (doc_id % 3) * 2) AS n
        |  FROM documents),
        |f AS (SELECT path, [
        |  coalesce(list_sum(list_transform(
        |    generate_series(0, least(15, n - 1)), i -> (did*31 + i*7) % 256)), 0),
        |  coalesce(list_sum(list_transform(
        |    generate_series(16, least(31, n - 1)), i -> (did*31 + i*7) % 256)), 0),
        |  coalesce(list_sum(list_transform(
        |    generate_series(32, least(47, n - 1)), i -> (did*31 + i*7) % 256)), 0),
        |  coalesce(list_sum(list_transform(
        |    generate_series(48, least(63, n - 1)), i -> (did*31 + i*7) % 256)), 0)
        |  ] AS f FROM px),
        |q AS (SELECT path AS query_path, f AS qf FROM f
        |  WHERE path IN ('/documents/0', '/documents/1', '/documents/2')),
        |scored AS (
        |  SELECT q.query_path, f.path AS neighbor_path,
        |    abs(f.f[1]-q.qf[1]) + abs(f.f[2]-q.qf[2]) +
        |    abs(f.f[3]-q.qf[3]) + abs(f.f[4]-q.qf[4]) AS dist
        |  FROM f JOIN q ON f.path <> q.query_path)
        |SELECT query_path, CAST(rank AS BIGINT) AS rank, neighbor_path,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_path
        |        ORDER BY dist, neighbor_path) AS rank FROM scored)
        |WHERE rank <= 3 ORDER BY query_path, rank""".stripMargin,
    "q_audio_decode" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, 800 + (doc_id % 5) * 160 - 1),
        |    i -> (doc_id * 17 + i * 3) % 2001 - 1000)) AS BIGINT)
        |    AS sample_sum
        |FROM documents ORDER BY path""".stripMargin,
    // same closed-form samples decimated by 2: kept sample i is
    // source sample 2i, i.e. (id*17 + 6i) % 2001 - 1000
    "q_audio_resample" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(4000 AS BIGINT) AS sample_rate,
        |  CAST((800 + (doc_id % 5) * 160) // 2 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(
        |    generate_series(0, (800 + (doc_id % 5) * 160) // 2 - 1),
        |    i -> (doc_id * 17 + i * 6) % 2001 - 1000)) AS BIGINT)
        |    AS sample_sum
        |FROM documents ORDER BY path""".stripMargin,
    // same closed-form samples framed into 160-sample windows;
    // frame j's energy = Σ v(160j+i)² over i<160, all integer
    "q_audio_frames" ->
      """SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path,
        |  CAST(5 + doc_id % 5 AS BIGINT) AS n_frames,
        |  CAST(list_sum(e) AS BIGINT) AS total_energy,
        |  CAST(list_max(e) AS BIGINT) AS peak_energy,
        |  CAST(list_position(e, list_max(e)) - 1 AS BIGINT)
        |    AS peak_frame
        |FROM (
        |  SELECT doc_id, list_transform(
        |    generate_series(0, CAST(4 + doc_id % 5 AS BIGINT)),
        |    j -> list_sum(list_transform(generate_series(0, 159),
        |      i -> CAST((doc_id * 17 + (j * 160 + i) * 3) % 2001 - 1000
        |                AS BIGINT)
        |         * CAST((doc_id * 17 + (j * 160 + i) * 3) % 2001 - 1000
        |                AS BIGINT)))) AS e
        |  FROM documents)
        |ORDER BY path""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, list_reduce(
         |  list_prepend(CAST(0 AS BIGINT),
         |    list_transform($TokensSql,
         |      t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
         |  (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    // per-dim label means + L2 distances + top-3 rank recomputed
    // relationally; both sides rank on the ROUNDED distance with the
    // vec_id tie-break
    "q_embed_outliers" ->
      """WITH x AS (SELECT label, vec_id, t.i AS i,
        |  CAST(embedding[t.i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)),
        |c AS (SELECT label, i, avg(v) AS m FROM x GROUP BY 1, 2),
        |d AS (SELECT x.label, x.vec_id,
        |  round(sqrt(sum((x.v - c.m) * (x.v - c.m))), 6) AS dist
        |  FROM x JOIN c ON x.label = c.label AND x.i = c.i
        |  GROUP BY 1, 2),
        |r AS (SELECT label, vec_id, dist,
        |  CAST(row_number() OVER (PARTITION BY label
        |    ORDER BY dist DESC, vec_id ASC) AS INT) AS rnk FROM d)
        |SELECT label, rnk, vec_id, dist FROM r WHERE rnk <= 3
        |ORDER BY label, rnk""".stripMargin,
    // both assignments recomputed over the recursive-CTE pair set:
    // per-doc hash split vs cluster-root split, cross-split pair
    // counts per scheme
    "q_split_audit" ->
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pr
         |  UNION SELECT d2, d1 FROM pr),
         |reach(node, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
         |cl AS (SELECT node AS member, min(r) AS root FROM reach
         |  GROUP BY node),
         |hb AS (SELECT doc_id,
         |  md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |hbb AS (SELECT doc_id, ${bucketSql("h")} AS bucket FROM hb),
         |hsp AS (SELECT doc_id, ${splitCaseSql("bucket")} AS split
         |  FROM hbb),
         |cb AS (SELECT d.doc_id,
         |  md5('csplit:' || CAST(coalesce(cl.root, d.doc_id) AS VARCHAR))
         |    AS h
         |  FROM documents d LEFT JOIN cl ON cl.member = d.doc_id),
         |cbb AS (SELECT doc_id, ${bucketSql("h")} AS bucket FROM cb),
         |csp AS (SELECT doc_id, ${splitCaseSql("bucket")} AS split
         |  FROM cbb),
         |a AS (SELECT 'hash' AS scheme, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN h1.split <> h2.split THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_cross_split
         |  FROM pr JOIN hsp h1 ON h1.doc_id = pr.d1
         |    JOIN hsp h2 ON h2.doc_id = pr.d2),
         |b AS (SELECT 'cluster' AS scheme, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN c1.split <> c2.split THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_cross_split
         |  FROM pr JOIN csp c1 ON c1.doc_id = pr.d1
         |    JOIN csp c2 ON c2.doc_id = pr.d2)
         |SELECT * FROM a UNION ALL SELECT * FROM b
         |ORDER BY scheme""".stripMargin,
    // truncated-space and full-space exact rankings recomputed on the
    // sliced raw lists (cosine is scale-invariant, so the engine's
    // renormalization preserves this order)
    "q_embed_truncate" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |  list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, t AS qt FROM e
        |  WHERE vec_id IN (0, 1, 2)),
        |ts AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(e.t, q.qt), 12) DESC,
        |             e.vec_id ASC) AS rank
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |fs AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(e.v, q.qv), 12) DESC,
        |             e.vec_id ASC) AS rank
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |ov AS (SELECT ts.query_id, count(*) AS n
        |  FROM ts JOIN fs ON ts.query_id = fs.query_id
        |    AND ts.neighbor_id = fs.neighbor_id
        |  WHERE ts.rank <= 5 AND fs.rank <= 5 GROUP BY ts.query_id)
        |SELECT ts.query_id, ts.neighbor_id AS trunc_top1,
        |  coalesce(ov.n, 0) AS n_overlap_full
        |FROM ts LEFT JOIN ov ON ts.query_id = ov.query_id
        |WHERE ts.rank = 1 ORDER BY ts.query_id""".stripMargin,
    // the same mutation arithmetic, relationally: per-id status via
    // digest comparison over the full outer join
    "q_corpus_diff" ->
      """WITH prev AS (SELECT doc_id, md5(text) AS d FROM documents),
        |cur AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |             ELSE text END) AS d
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS d
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
        |  CASE WHEN prev.d IS NULL THEN 'added'
        |       WHEN cur.d IS NULL THEN 'removed'
        |       WHEN prev.d = cur.d THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
        |ORDER BY doc_id""".stripMargin,
    // same md5-uniform + A-Res key, relationally: row_number per
    // source over key desc with the id tie-break
    "q_weighted_sample" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
        |  md5('wsample:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |u AS (SELECT doc_id, source, n_chars,
        |  CAST((((ascii(substr(h, 1, 1)) -
        |      CASE WHEN substr(h, 1, 1) <= '9' THEN 48 ELSE 87 END) * 16 +
        |    (ascii(substr(h, 2, 1)) -
        |      CASE WHEN substr(h, 2, 1) <= '9' THEN 48 ELSE 87 END)) * 16 +
        |    (ascii(substr(h, 3, 1)) -
        |      CASE WHEN substr(h, 3, 1) <= '9' THEN 48 ELSE 87 END)) * 16 +
        |    (ascii(substr(h, 4, 1)) -
        |      CASE WHEN substr(h, 4, 1) <= '9' THEN 48 ELSE 87 END)
        |    AS DOUBLE) / 65536.0 AS u
        |  FROM h),
        |r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY round(pow(u, 1.0 / CAST(n_chars AS DOUBLE)), 12)
        |      DESC, doc_id)
        |    AS rn
        |  FROM u)
        |SELECT source, doc_id, n_chars FROM r WHERE rn <= 20
        |ORDER BY source, doc_id""".stripMargin,
    // same injected construction + the same Luhn arithmetic,
    // relationally: check digit from the 15-digit base, candidates by
    // regexp_extract_all, validity by a per-candidate digit fold,
    // redaction by list_reduce over the validated spellings
    "q_redact_cards" ->
      """WITH base AS (SELECT doc_id, text,
        |  lpad(CAST(doc_id * 387420489 + 12345 AS VARCHAR), 15, '0') AS b
        |  FROM documents),
        |ck AS (SELECT doc_id, text, b,
        |  CAST((10 - list_sum(list_transform(generate_series(1, 15), r ->
        |    CASE WHEN (CASE WHEN r % 2 = 1
        |        THEN 2 * CAST(substr(b, 16 - r, 1) AS INT)
        |        ELSE CAST(substr(b, 16 - r, 1) AS INT) END) > 9
        |      THEN (CASE WHEN r % 2 = 1
        |        THEN 2 * CAST(substr(b, 16 - r, 1) AS INT)
        |        ELSE CAST(substr(b, 16 - r, 1) AS INT) END) - 9
        |      ELSE (CASE WHEN r % 2 = 1
        |        THEN 2 * CAST(substr(b, 16 - r, 1) AS INT)
        |        ELSE CAST(substr(b, 16 - r, 1) AS INT) END) END)) % 10) % 10
        |    AS VARCHAR) AS chk FROM base),
        |w AS (SELECT doc_id,
        |  text || ' card ' ||
        |  substr(b || chk, 1, 4) || '-' || substr(b || chk, 5, 4) || '-' ||
        |  substr(b || chk, 9, 4) || '-' || substr(b || chk, 13, 4) ||
        |  ' ref ' || b ||
        |  CASE WHEN doc_id % 3 = 0 THEN chk
        |       ELSE CAST((CAST(chk AS INT) + 5) % 10 AS VARCHAR) END AS t
        |  FROM ck),
        |c AS (SELECT doc_id, t,
        |  regexp_extract_all(t,
        |    '\b(?:\d{4}[ -]){3}\d{4}\b|\b\d{13,16}\b') AS cands FROM w),
        |v AS (SELECT doc_id, t, cands,
        |  list_filter(cands, c -> list_sum(list_transform(
        |    generate_series(1, length(replace(replace(c, ' ', ''), '-', ''))),
        |    q -> CASE WHEN (CASE WHEN q % 2 = 0
        |        THEN 2 * CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT)
        |        ELSE CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT) END) > 9
        |      THEN (CASE WHEN q % 2 = 0
        |        THEN 2 * CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT)
        |        ELSE CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT) END) - 9
        |      ELSE (CASE WHEN q % 2 = 0
        |        THEN 2 * CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT)
        |        ELSE CAST(substr(replace(replace(c, ' ', ''), '-', ''),
        |          length(replace(replace(c, ' ', ''), '-', '')) - q + 1, 1)
        |          AS INT) END) END)) % 10 = 0) AS valids
        |  FROM c)
        |SELECT doc_id,
        |  CAST(len(cands) AS INT) AS n_candidates,
        |  CAST(len(valids) AS INT) AS n_valid,
        |  list_reduce(list_prepend(t, valids),
        |    (acc, x) -> replace(acc, x, '[CARD]')) AS redacted
        |FROM v ORDER BY doc_id""".stripMargin,
    // closed-form samples (the wavContentStore generator) + the same
    // single-bin DFT, relationally: per (doc, frame), re/im sums over
    // the 160-sample slice, magnitudes rounded 6 dp
    "q_audio_spectra" ->
      """WITH f AS (SELECT doc_id, CAST(t.j AS INT) AS frame
        |  FROM documents,
        |  UNNEST(generate_series(0, CAST(4 + doc_id % 5 AS BIGINT))) AS t(j)),
        |c AS (SELECT doc_id, frame,
        |  list_transform(generate_series(0, 159), i ->
        |    CAST((doc_id * 17 + (frame * 160 + i) * 3) % 2001 - 1000
        |         AS DOUBLE) / 32768.0) AS xs
        |  FROM f),
        |m AS (SELECT doc_id, frame,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * cos(i * (2 * pi() * 1 / 160.0)))) AS re1,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * sin(i * (2 * pi() * 1 / 160.0)))) AS im1,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * cos(i * (2 * pi() * 2 / 160.0)))) AS re2,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * sin(i * (2 * pi() * 2 / 160.0)))) AS im2,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * cos(i * (2 * pi() * 4 / 160.0)))) AS re4,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * sin(i * (2 * pi() * 4 / 160.0)))) AS im4,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * cos(i * (2 * pi() * 8 / 160.0)))) AS re8,
        |  list_sum(list_transform(generate_series(0, 159),
        |    i -> xs[i + 1] * sin(i * (2 * pi() * 8 / 160.0)))) AS im8
        |  FROM c)
        |SELECT '/documents/' || CAST(doc_id AS VARCHAR) AS path, frame,
        |  round(re1 * re1 + im1 * im1, 6) AS mag2_1,
        |  round(re2 * re2 + im2 * im2, 6) AS mag2_2,
        |  round(re4 * re4 + im4 * im4, 6) AS mag2_4,
        |  round(re8 * re8 + im8 * im8, 6) AS mag2_8
        |FROM m ORDER BY path, frame""".stripMargin,
    // same injection arithmetic; blocklist semantics as an OR/LIKE
    // chain (exact host or '.'-suffix) — the independent relational
    // statement of the engine's suffix-chain semi-join
    "q_url_filter" ->
      """WITH t AS (SELECT doc_id, 'HTTPS://' ||
        |  CASE WHEN doc_id % 7 = 0
        |         THEN 'spam' || (doc_id % 3) || '.Example.com'
        |       WHEN doc_id % 7 = 1 THEN 'www.ads.tracker.net'
        |       ELSE 'Site' || (doc_id % 50) || '.org' END ||
        |  ':443/page/' || doc_id || '?ref=x#top' AS url FROM documents),
        |d AS (SELECT doc_id, lower(regexp_replace(regexp_extract(url,
        |  '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/:?#]+)', 1),
        |  '^www\.', '')) AS domain FROM t),
        |f AS (SELECT doc_id, domain,
        |  (domain = 'example.com' OR domain LIKE '%.example.com' OR
        |   domain = 'ads.tracker.net' OR domain LIKE '%.ads.tracker.net')
        |  AS blocked FROM d)
        |SELECT domain, blocked, count(*) AS n_docs FROM f
        |GROUP BY 1, 2 ORDER BY domain""".stripMargin,
    // relational entropy (explode → groupBy) vs the engine's in-row
    // sorted-runs fold; ordered sum matches the fold's term order and
    // ln/ln(2) matches the engine's log(2.0, x) arithmetic
    "q_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, $TokensSql AS ts FROM documents),
         |occ AS (SELECT doc_id, unnest(ts) AS tok FROM tok),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM occ GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
         |  count(*) AS nd FROM c GROUP BY 1),
         |e AS (SELECT c.doc_id,
         |  round(-sum((c / n.n) * (ln(c / n.n) / ln(2)) ORDER BY tok), 6)
         |    AS entropy
         |  FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY 1)
         |SELECT t.doc_id, len(t.ts) AS n_tokens,
         |  COALESCE(n.nd, 0) AS n_distinct,
         |  COALESCE(e.entropy, 0.0) AS entropy
         |FROM tok t LEFT JOIN n ON t.doc_id = n.doc_id
         |LEFT JOIN e ON t.doc_id = e.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH occ AS (SELECT unnest($TokensSql) AS term FROM documents),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM occ),
         |c AS (SELECT term, count(*) AS freq FROM occ GROUP BY 1)
         |SELECT term, freq FROM c, n WHERE freq >= ceil(0.005 * n.n)
         |ORDER BY freq DESC, term ASC""".stripMargin,
    // axis_max_var arithmetic mirrors the engine: population variance
    // ss/n - (s/n)^2 per coordinate, max, round 6
    "q_pca" ->
      """WITH x AS (SELECT t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)),
        |a AS (SELECT i, sum(v*v)/count(*) - (sum(v)/count(*))^2 AS var
        |  FROM x GROUP BY 1)
        |SELECT round(max(var), 6) AS axis_max_var,
        |  true AS pc1_ge_axis, true AS vars_monotone, true AS orthonormal
        |FROM a""".stripMargin,
    "q_quantiles_approx" ->
      s"""WITH t AS (SELECT source, len($TokensSql) AS n_tokens
         |  FROM documents)
         |SELECT source,
         |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
         |  round(quantile_cont(n_tokens, 0.9), 6) AS p90,
         |  true AS p50_ok, true AS p90_ok
         |FROM t GROUP BY 1 ORDER BY source""".stripMargin,
    "q_report_approx" ->
      """SELECT source, count(DISTINCT md5(text)) AS n_unique,
        |true AS approx_ok
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q_retention" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events
        |  GROUP BY 1),
        |a AS (SELECT DISTINCT
        |  epoch_us(f.first_ts) // 604800000000 AS cohort,
        |  epoch_us(e.ts) // 604800000000 -
        |    epoch_us(f.first_ts) // 604800000000 AS "offset",
        |  e.user_id
        |  FROM events e JOIN f USING (user_id))
        |SELECT cohort, "offset", count(*) AS n_users FROM a
        |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin,
    "q_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'view' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT u.user_id,
        |  epoch_us(s1.t) AS step1_us, epoch_us(s2.t) AS step2_us,
        |  epoch_us(s3.t) AS step3_us, epoch_us(s4.t) AS step4_us,
        |  (CASE WHEN s1.t IS NULL THEN 0 ELSE 1 END +
        |   CASE WHEN s2.t IS NULL THEN 0 ELSE 1 END +
        |   CASE WHEN s3.t IS NULL THEN 0 ELSE 1 END +
        |   CASE WHEN s4.t IS NULL THEN 0 ELSE 1 END) AS level
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_salted_join" ->
      """WITH d AS (SELECT user_id,
        |  count(*) FILTER (event_type = 'view') AS n_views
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.value, d.n_views
        |FROM events e JOIN d USING (user_id)
        |WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin,
    "q_knn_rp" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id AS exact_top1, true AS recall_ok
        |FROM (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q_triplets" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |ranked AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM (SELECT query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.v, q.qv) AS cosine
        |    FROM e JOIN q ON e.vec_id <> q.query_id)),
        |pos AS (SELECT query_id, neighbor_id AS pos_id FROM ranked
        |  WHERE rank = 1)
        |SELECT r.query_id AS anchor_id, p.pos_id,
        |  r.neighbor_id AS neg_id, r.rank - 1 AS neg_rank
        |FROM ranked r JOIN pos p USING (query_id)
        |WHERE r.rank BETWEEN 2 AND 5
        |ORDER BY anchor_id, neg_rank""".stripMargin,
    "q_knn_pq" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id AS exact_top1, true AS recall_ok
        |FROM (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank = 1 ORDER BY query_id""".stripMargin)
}
