package graft

import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PROBE-ONLY query for the PRODUCTION shape of embedding near-dup
  * discovery — τ=0.9 through the corpus-adaptive LSH index (the
  * regime the declared τ=0.4 demo deliberately is not: at τ=0.4 the
  * recall-feasibility bound pins the plane count to 4 and LSH cost at
  * fixed recall is Θ(n^(1+ρ)) by theory; at τ=0.9 the same corpus
  * buckets ~250× harder and scales near-linearly — see
  * [[Similarity.recallFeasibleK]]). Added to Bench under
  * SPARK_GRAFT_ANNPROD=1 for the embeddings decade pillar; never part
  * of the declared oracle surface (the gated sf dirs' corpora are too
  * small to separate the regimes).
  *
  * Output mirrors q_dedup_embedding_lsh's grounded contract: exact
  * τ=0.9 pairs on a bounded sample anchor precision (n_extra must be
  * 0) and recall (n_miss / n_exact), while the LSH path itself runs
  * over the FULL corpus — the measured quantity is ITS decade trend.
  */
object AnnProbe {

  private val GroundCap = 2000L
  private def groundSample(e: DataFrame): DataFrame = {
    val n = e.count()
    if (n <= GroundCap) e
    else {
      val stride = ((n + GroundCap - 1) / GroundCap).toInt
      e.where(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
    }
  }

  /** The truth-set plant is SHARED with the declared
    * q_dedup_embedding_prod ([[PipelineQueries.plantDups]] — one
    * near-dup per sample vector at cosine ≈ 0.958, SQL-reproducible
    * sign rule), so the decade probe measures exactly the contract
    * the oracle pins every gate. */
  private def plantDups(sample: DataFrame): DataFrame =
    PipelineQueries.plantDups(sample).select("vec_id", "embedding")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the two-level SemDeDup at the PRODUCTION threshold (τ=0.9),
    // with the same planted-truth anchor as the prod LSH miner: the
    // declared q_dedup_semantic_2l demos τ=0.4 (non-trivial at the
    // gated sfs, oracle-pinned), but a τ=0.4 pair OUTPUT over
    // clustered millions is intrinsically enormous — the production
    // near-dup regime is τ≥0.9, where in-cluster banding prunes hard.
    // Measured here: end-to-end cost across decades (capped-k fine
    // fit + two-level assignment + in-cluster mining) and the planted
    // recall THROUGH the cluster assignment (a plant that lands in a
    // different fine cluster than its source is unfindable by
    // SemDeDup — that cross-cluster loss is the operator's real
    // recall tradeoff, so it is what the probe measures).
    "x_dedup_semantic_2l_prod" -> ((s, dir) => {
      val e0 = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val g = groundSample(e0)
      val planted = PipelineQueries.plantDups(g)
      val e = e0.unionByName(planted.select("vec_id", "embedding"))
      val pairs = graft.ops.Caches.localCheckpoint(
        Dedup.semanticPairs2L(e, tau = 0.9).select("v1", "v2"))
      val truth = planted.alias("p")
        .join(g.alias("g"), col("p.src") === col("g.vec_id"))
        .select(col("g.vec_id").as("v1"), col("p.vec_id").as("v2"),
          Similarity.cosineFixed(col("g.embedding"), col("p.embedding"))
            .as("cosine"))
      val truthTrue = truth.where(col("cosine") >= 0.9).select("v1", "v2")
      val found = truthTrue.join(pairs, Seq("v1", "v2"), "left_semi")
      truthTrue.agg(count(lit(1)).as("n_true"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs_full")))
    }),

    "x_dedup_emb_lsh_prod" -> ((s, dir) => {
      val e0 = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val g0 = groundSample(e0)
      val planted = plantDups(g0)
      val e = e0.unionByName(planted)
      val g = g0.unionByName(planted)
      // tables = 0: the theory-true joint (k, L) sizing — the shape a
      // production index build uses. The pair OUTPUT is tiny (true
      // near-dups only) but the mining pass behind it shuffles the
      // whole bucketed corpus — and this probe consumes the pair set
      // THREE times (precision anti-join, recall anti-join, full
      // count). localCheckpoint materializes one mining pass; without
      // it the three consumers ran three concurrent corpus shuffles
      // (measured: ENOSPC at 5M vectors on a 49 GB-free volume).
      val lsh = graft.ops.Caches.localCheckpoint(
        Dedup.embeddingDupPairsLsh(e, tau = 0.9, tables = 0)
          .select("v1", "v2"))
      val lshG = lsh
        .join(g.select(col("vec_id").as("v1")), Seq("v1"), "left_semi")
        .join(g.select(col("vec_id").as("v2")), Seq("v2"), "left_semi")
      val exact = Dedup.embeddingDupPairs(g, tau = 0.9).select("v1", "v2")
      val extra = lshG.join(exact, Seq("v1", "v2"), "left_anti")
      val missed = exact.join(lshG, Seq("v1", "v2"), "left_anti")
      // n_pairs_full forces the UNRESTRICTED mining path: the sample
      // semi-joins above let Catalyst push the 2000-id filter into
      // both sides of the bucket self-join, so without this column
      // the row would measure only index build + sample verify
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(extra.agg(count(lit(1)).as("n_extra")))
        .crossJoin(missed.agg(count(lit(1)).as("n_miss")))
        .crossJoin(lsh.agg(count(lit(1)).as("n_pairs_full")))
    }))
}
