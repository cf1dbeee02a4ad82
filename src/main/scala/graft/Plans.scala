package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of representative queries to
  * PLANS.md — the plan-audit artifact (pushdown, join strategies,
  * shuffle counts) for review alongside BENCH numbers. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "q_search_range",    // qp compile → one pushed predicate
      "q_agg_term",        // partial agg → final top-K
      "q_agg_nested_sig",  // per-parent sig: grouped counts + window top-K
      "q_xg_2level",       // iterative equi-join chain, AQE join picks
      "q_xg_all",          // wildcard fan-out over all ref fields
      "q_sparql_chain",    // BGP → join compiler output
      "q_sparql_union",    // union of solution frames + join-in
      "q_sparql_agg",      // solution groupBy (partial → final)
      "q_sparql_subquery", // aggregated subframe joined into outer BGP
      "q_sparql_exists",   // FILTER EXISTS → left-semi on shared vars
      "q_sparql_alt",      // (p1|p2) → single isin scan, no union
      "q_sp",              // PATHS populate as a semi-join predicate
      "q_consume_chunk",   // range predicate + top-N boundary
      "q_dedup_minhash",   // LSH banding + candidate verify
      "q_dedup_embedding_lsh", // bucket self-join + exact cosine verify
      "q_knn",             // broadcast query side + window top-k
      "q_knn_ivf",         // literal-centroid probe + in-row cell sort
      "q_sparql_negset",   // complemented predicate scan (negated set)
      "q_sparql_graph",    // GRAPH ?g — tag-projected scans joined on ?g
      "q_sessionize",      // native session_window merge, one shuffle
      "q_decontaminate",   // broadcast semi-join over the gram index
      "q_quota_sample",    // two-phase top-K: salted prune, exact pick
      "q_gremlin",         // pipe chain -> frontier equi/semi-joins
      "q_merge_pruned",    // partition-pruned in-place merge read-back
      "q_dedup_canonical", // cluster-representative window (drop-set-sized)
      "q_corpus_report",   // one-scan groupBy dashboard
      "q_search_phrase",   // analyzed phrase match, codegen'd
      "q_kmeans",          // centroid-literal argmin projection (final assign)
      "q_dedup_semantic",  // within-cluster pair join + exact cosine
      "q_dedup_minhash_inc", // batch bands broadcast vs corpus index
      "q_lm_score",        // token-key join + per-doc agg
      "q_pmi",             // two count tables + token-key join, top-k
      "q_quality_prune",   // LM gate: per-key percentile threshold join
      "q_dedup_substring", // inverted hashed-gram index self-join
      "q_length_quantiles",// exact per-key percentile report
      "q_clean_c4",        // pure array-expression line filter
      "q_dedup_bloom",     // bloom-literal scan split + pruned verify join
      "q_dedup_paragraph", // groupBy-min line ownership + per-doc rebuild
      "q_dedup_spans",     // gram-index ownership, span cut, doc rebuild
      "q_tfidf",           // tf groupBy + term-key idf join + per-doc top-k
      "q_asof_join",       // union + per-key sort, carry-forward match
      "q_range_join",      // 2-bucket equi-join + exact range post-filter
      "q_dedup_clusters",  // converged CC labels (post-iteration plan)
      "q_url_filter",      // suffix-chain explode + broadcast semi-join
      "q_token_entropy",   // native gram_run_stats projection — NO shuffle
      "q_knn_rp",          // JL sketch candidates + exact re-rank
      "q_heavy_hitters",   // MG candidates broadcast + exact recount
      "q_funnel",          // one user shuffle + in-row step walk
      "q_retention",       // min-agg + user join + combined count
      "q_salted_join",     // (key, salt) distribution visible in join
      "q_quality_gopher",  // 5-rule gate: ONE scan-side projection
      "q_dsir",            // dual-count table + token-key join
      "q_knn_pq",          // ADC lookup-table scan + exact re-rank
      "q_search_stemmed",  // analyzer chain inside the pushed predicate
      "q_yg_fieldlist",    // comma list level: ONE 2-predicate pruned scan per filter group
      "q_yg_multi",        // | alternatives: per-path chains from one base, unioned
      "q_xg_nswild",       // ns-wildcard level over the claimed-key universe
      "q_hybrid_rank",     // two top-k rankings + tiny fusion groupBy
      "q_dedup_soft",      // drop-set-sized size agg broadcast onto the corpus
      // q_curriculum is eagerly checkpointed (its plan here would be a
      // Scan ExistingRDD stub); EngineSpec asserts its pre-checkpoint
      // shape instead: range partitioning, zero single-partition nodes
      "q_contamination_frac", // broadcast gram set + per-doc fraction agg
      "q_file_decode",        // native png_decode expression in-row —
                              // decode inside WholeStageCodegen, no RDD exit
      "q_image_decode_jpeg",  // ImageIO route of the same in-row decode
      "q_gremlin_loop",       // bounded loop desugared to hop-join levels
      "q_search_stemmed_de",  // German chain inside the pushed predicate
      "q_gremlin_groupcount", // hop = join + partial-agg'd groupBy(head)
      "q_audio_frames",       // windowed energies in-row: scan-side projection
      "q_image_resize",       // decode + pool + weigh: one codegen projection
      "q_gremlin_simplepath", // trail-threading hops + in-row revisit filter
      "q_gremlin_filter",     // filter{} closure desugared to typed has semi-joins
      "q_search_stemmed_pt",  // Portuguese chain inside the pushed predicate
      "q_sparql_minus",       // MINUS as a HASH anti-join (equi keys visible)
      "q_bulk_consume",       // served from the indexTime-major secondary layout
      "q_split_leakage",      // drop-set-sized cluster join + md5 bucket projection
      "q_search_modifier",    // comma-token membership on a system column
      "q_search_stemmed_ru",  // Cyrillic chain inside the pushed predicate
      "q_overlap_join",       // bucket-exploded interval equi-join, no distinct
      "q_embed_truncate",     // sliced-prefix rankings + broadcast query side
      "q_corpus_diff",        // digest-projected full-outer join (text never moves)
      "q_weighted_sample",    // A-Res key in the scan + per-group window rank
      "q_audio_spectra",      // in-row DFT projection — no shuffle
      "q_embed_outliers",     // (group,dim) mean + broadcast centroids, in-row L2
      "q_search_stemmed_nl",  // Dutch chain inside the pushed predicate
      "q_sparql_imports",     // registered-UDF FILTER over the BGP join
      "q_gremlin_except_step", // named-step except: codegen'd column compare, no join
      "q_stp",                // stp tick-3 view: BGP join over the merged store
      "q_dedup_containment",  // both-prefix candidate join + positional filters
      "q_decontaminate_fuzzy", // bench band index broadcast, candidate-only verify
      "q_merge_bulk",         // post-swap generational layout read-back (pruned)
      "q_gremlin_regex",      // slashy-regex closure: rlike inside the has semi-join
      "q_search_stemmed_tr",  // Turkish chain (dotted/dotless fold) in the predicate
      "q_search_stemmed_fa",  // Persian normalize + clitic stop-gap chain
      "q_search_stemmed_sv",  // Swedish definite-plural chain in the predicate
      "q_search_stemmed_da",  // Danish chain with the consonant undouble
      "q_track",              // before/after uuid diff over the scoped merge
      "q_purge",              // purge-all/purge-history read-back over tombstones
      "q_sessionize_skew",    // hot-user session windows (Zipf twin fixture)
      "q_dedup_jaccard_skew", // hot-shingle PPJoin (rarity prefix holds under skew)
      "q_asof_forward",       // running last() carry over the reversed sort (O(rows))
      "q_merge_recover")      // roll-forward read-back after the simulated kill window
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. ")
    sb.append("What to look for: `PushedFilters`/pruned `ReadSchema` on " +
      "parquet scans, broadcast vs sort-merge join picks (AQE), " +
      "partial→final aggregation splits, and the absence of global " +
      "single-partition windows.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(6000))
      sb.append("\n```\n")
      graft.ops.Caches.releaseCaches()
    }
    // q_stream_window/_session/_dedup return the FILE SINK read back
    // as a batch frame, so the declared query's batch plan is just a
    // parquet scan of the sink. The plan that matters —
    // EventTimeWatermark feeding StateStoreSave /
    // SessionWindowStateStoreSave / StreamingDeduplicateWithinWatermark
    // — lives on the micro-batch StreamExecution, captured here from
    // StreamingQuery.explain() after the stream drains one batch.
    streamingPlans(spark, sfDir).foreach { case (name, plan) =>
      sb.append(s"\n## $name (micro-batch physical plan)\n\n```\n")
      sb.append(plan.take(6000))
      sb.append("\n```\n")
    }
    sb.append("""
## Streaming state at scale

The three stateful plans above hold state bounded by the
watermark, not by stream history: sessions = open sessions ×
lateness horizon, dedup = digests within the horizon, windows
= windows in flight × keys. StreamingSpec's state-bound test
pins the eviction (200 sessions / 300 digests → ≤2 state rows
after the two-sentinel flush); `graft.streaming.StateProbe`
measures stateOperators rows/bytes at any sf dir (committed
numbers: state_probe.json). Production scale note: the
default HDFSBackedStateStoreProvider keeps state rows on the
executor heap — past ~10M rows/executor set
`spark.sql.streaming.stateStore.providerClass` to
`...state.RocksDBStateStoreProvider` (off-heap/on-disk state
with changelog checkpointing, same semantics). The BOUND is
provider-independent; the provider only decides where the
bounded rows live.

## LSH sizing at scale (round 16)

Hyperplane-LSH plane counts are corpus-adaptive
(`Similarity.autoPlanes`/`autoKL`): fixed k makes bucket
collision probability a constant (2^-k), so candidate volume
grows quadratically — the third-decade embeddings probe
measured 808 s at 5M vectors under the fixed 4-plane demo
shape. Auto-k targets constant bucket occupancy (candidate
work linear in n) but is CAPPED by the recall-feasibility
bound of the (τ, L) scheme: at τ=0.4 (per-plane agreement
p≈0.63) feasible k for 8 tables is 4 — the loose-τ demo
cannot bucket harder without going blind, and its cost at
fixed recall is Θ(n^(1+ρ)) by LSH theory (Indyk–Motwani),
ρ = ln(1/p₁)/ln(1/p₂). At the production near-dup threshold
(τ≥0.9, p≈0.86) feasible k is 12+, and `tables = 0` opts
into the joint (k, L) sizing: corpus-ideal k, L =
⌈ln(1−R)/ln(1−p₁^k)⌉ tables — the engine stays ON the theory
curve instead of the quadratic fixed-k curve. Gated-sf
corpora resolve to the historical (4, 8) shape bit-for-bit
(LshSizingSpec).

## Hot predicate / dynamic fields (round 16)

`xnodes.parquet` (optional, generator-emitted) loads as
/xnode/<xid> infotons whose predicates come from the DATA —
the open-vocabulary infoton shape, and the lever for planting
an rdf:type-style hot predicate owning the store's largest
quad partition. The quad layout partitions by predicate, so
queries over OTHER predicates prune past the hot partition
entirely (their skew ratios stay ~1), a full-pool alternation
compiles to ONE isin scan (XnodeProbe x_hot_alt), and a
variable-predicate pattern groups BY the skewed key under
partial aggregation (x_hot_group). Committed evidence:
bench_skew.json hot-predicate rows.
""")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }

  /** The three streaming-extension plans, keyed by their declared
    * query names. Each pipeline is the same operator composition the
    * declared query drives (windowedCounts / sessionizeStream /
    * dedupStream over the events/documents tables); one micro-batch
    * is enough to materialize the stateful physical plan. */
  private def streamingPlans(spark: SparkSession,
                             sfDir: String): Seq[(String, String)] = {
    import org.apache.spark.sql.{DataFrame, functions => F}
    val events = graft.model.TableLoader.events(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(F.col("doc_id"), F.col("text"))
      .withColumn("ts", F.timestamp_micros(
        F.lit(1704067200000000L) + F.col("doc_id") * F.lit(1000000L)))
    def capture(src: DataFrame)(tf: DataFrame => DataFrame): String = {
      val dir = Files.createTempDirectory("graft_plan_stream_").toString
      val sink = s"graft_plan_sink_${System.nanoTime()}"
      try {
        src.write.mode("overwrite").parquet(dir)
        val q = tf(spark.readStream.schema(src.schema).parquet(dir))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          val buf = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
            q.explain()
          }
          buf.toString("UTF-8")
        } finally {
          q.stop()
          spark.catalog.dropTempView(sink)
        }
      } finally graft.model.GraftStore.rmTree(new java.io.File(dir))
    }
    Seq(
      "q_stream_window" -> capture(events)(st =>
        graft.streaming.Streaming.windowedCounts(st, "ts",
          "6 hours", "1 hour", keys = Seq("event_type"))),
      "q_stream_session" -> capture(events)(st =>
        graft.streaming.Streaming.sessionizeStream(
          st.select(F.col("ts"), F.col("user_id")),
          gapMinutes = 30, lateness = "1 hour")),
      "q_stream_dedup" -> capture(docs)(st =>
        graft.streaming.Streaming.dedupStream(st, "ts", "30 days")))
  }
}
