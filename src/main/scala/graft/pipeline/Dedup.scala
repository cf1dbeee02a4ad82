package graft.pipeline

import graft.ops.Caches
import graft.pipeline.Candidates.{l, r}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Every near-dup pair operator is candidate-then-verify over
  * [[Candidates]]: it supplies a key (a prefix shingle, a MinHash band,
  * a SimHash chunk, an LSH bucket, a k-means cluster), the key-blocked
  * join makes candidate pairs and an exact measure keeps the qualifying
  * ones. `jaccardPairs` and `containmentPairs` are exact through prefix
  * filtering; MinHash/SimHash band-bucket joins keep the candidate sets
  * tiny, which is the 100 TB path. The one quadratic operator is
  * `embeddingDupPairs`, the exact baseline for squarable slices.
  */
object Dedup {

  /** Kept for callers that predate the one registry, [[Caches]]. */
  @deprecated("use graft.ops.Caches.releaseCaches()", "0.1.0")
  def releaseCaches(): Unit = Caches.releaseCaches()

  /** Ulp guard for ceil(tau * integer) prefix arithmetic — see the
    * FpEps comments at the use sites. Strictly loosening: it can only
    * grow a candidate set the exact verify then filters. */
  private val FpEps = 1e-9

  /** Exact dedup: hash-groupBy on the content digest; keeps the lowest
    * id as the canonical representative. One shuffle on the digest. */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))

  /** INCREMENTAL exact dedup — the production shape for a growing
    * corpus: the already-ingested corpus exposes only its DIGEST INDEX
    * (one md5 per distinct content; at 100 TB a bucketed parquet
    * table, tiny next to the corpus), and each incoming batch joins
    * against that index plus itself — corpus×corpus never runs again.
    * Returns the incoming docs that survive: content unseen in the
    * corpus, first id within the batch per digest. */
  def incrementalExact(corpusDigests: DataFrame, incoming: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val inc = incoming.withColumn("digest", md5(col(textCol)))
    val w = Window.partitionBy("digest").orderBy(idCol)
    inc.join(corpusDigests, Seq("digest"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** The digest index [[incrementalExact]] consumes — maintained by
    * unioning each accepted batch's digests. */
  def digestIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("digest")).distinct()

  /** Inverted index: (doc_id, shingle), distinct. */
  def shingleIndex(docs: DataFrame, n: Int,
                   textCol: String = "text"): DataFrame =
    // tokens materialize in their own projection BEFORE the explode:
    // referencing tokens(text) directly inside shingles' transform
    // lambda would inline the full tokenizer into the per-element
    // slice — O(L²) re-tokenization per document.
    // computeParallel: tokenize+explode multiplies each input row
    // ~100×, so a text corpus packed into a handful of parquet splits
    // would otherwise build the whole inverted index on those few
    // tasks before the first shuffle widens the plan
    Similarity.computeParallel(docs)
      .select(col("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        explode(TextAnalysis.shinglesOf(col("__ts"), n)).as("sh"))

  /** Inverted index with shingles hashed to 64-bit keys — the form the
    * join-heavy operators (Jaccard, MinHash) share: long shuffles beat
    * string shuffles. Persisted for the query that builds it: a second
    * build over the same plan within that query (MinHash signatures,
    * then its verify) reads the one cached materialization. */
  def hashedShingleIndex(docs: DataFrame, n: Int,
                         textCol: String = "text"): DataFrame =
    Caches.persist(shingleIndex(docs, n, textCol)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")))

  /** Exact n-gram Jaccard near-dup pairs (j >= tau) via PREFIX
    * FILTERING (the All-Pairs / PPJoin family: Bayardo et al. WWW'07,
    * Xiao et al. WWW'08) — EXACT, no recall loss:
    *
    * order every doc's shingles by global rarity (df asc); two sets
    * with jaccard >= tau MUST share a token within their first
    * `sz - ceil(tau*sz) + 1` rarest tokens (pigeonhole), so the
    * candidate self-join runs over that small prefix index instead of
    * the full inverted index. A naive index join computes sum(df²)
    * pairs — 73M on the 5 k-doc synthetic corpus (931 distinct
    * bigrams, every shingle hot, so df-pruning cannot help without
    * changing the metric); the prefix join concentrates on the rarest
    * shingles and stays ~100× smaller. A length filter
    * (least(sz) >= tau*greatest(sz)) prunes further. Candidates are
    * then verified exactly by [[jaccardForPairs]]. */
  def jaccardPairs(docs: DataFrame, n: Int, tau: Double,
                   textCol: String = "text"): DataFrame = {
    // 64-bit hashed shingles: long shuffles, long-array verify
    // intersections (collision odds ~ d²/2⁶⁵ — immaterial next to the
    // exactness the oracle checks)
    val idx = hashedShingleIndex(docs, n, textCol)
    val prefix = rarityRanked(idx)
      // FpEps inside ceil: when tau*sz is exactly integral, the double
      // product can land one ulp HIGH and ceil would overshoot by 1 —
      // a too-short prefix silently drops exact-boundary pairs. The
      // epsilon can only LENGTHEN a prefix (a candidate superset), so
      // exactness is preserved; the verify filters the slack.
      .where(col("pos") <= col("sz") -
        ceil(lit(tau) * col("sz") - lit(FpEps)) + 1)
      .select("doc_id", "sh", "sz", "pos")
    // persisted: both sides of the candidate self-join — without it
    // the df-join + two windows run twice
    val prefixC = Caches.persist(prefix)
    // PPJoin position filter: the overlap can't exceed
    // 1 + min(remaining tokens after this position on either side),
    // and j >= tau needs overlap >= ceil(tau/(1+tau) * (sz1+sz2))
    val candidates = Candidates.pairs(prefixC, prefixC, Seq("sh"),
        l("doc_id") < r("doc_id") &&
          least(l("sz"), r("sz")) >= lit(tau) * greatest(l("sz"), r("sz")) &&
          lit(1) + least(l("sz") - l("pos"), r("sz") - r("pos")) >=
            ceil(lit(tau / (1 + tau)) * (l("sz") + r("sz")) - lit(FpEps)))(
        l("doc_id").as("d1"), r("doc_id").as("d2"))
      .distinct()
    jaccardForPairs(docs, candidates, n, textCol, Some(idx))
      .where(col("jaccard") >= tau)
  }

  /** The hashed index with each doc's shingles in the global rarity
    * order both prefix filters cut from: `pos` ranks them by document
    * frequency `df` (ties by shingle), `sz` is the doc's set size. */
  private def rarityRanked(idx: DataFrame): DataFrame =
    idx.join(idx.groupBy("sh").agg(count(lit(1)).as("df")), "sh")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "sh")))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))

  /** Exact Jaccard restricted to a given candidate pair set — the
    * verification step of candidate-based dedup (LSH bands / prefix
    * filter). Intersections are computed per-pair via
    * `array_intersect` over compact per-doc shingle-set arrays: the
    * doc-sets side is one row per doc (broadcast-sized relative to the
    * corpus), so verifying K candidates costs two hash joins + K array
    * intersections — never an exploded index self-join. */
  def jaccardForPairs(docs: DataFrame, pairs: DataFrame, n: Int,
                      textCol: String = "text",
                      sharedIdx: Option[DataFrame] = None): DataFrame = {
    val idx = sharedIdx.getOrElse(shingleIndex(docs, n, textCol))
    val inter = size(array_intersect(col("hs1"), col("hs2")))
    Candidates.verify(pairs, ("d1", "d2"), shingleSets(idx), "doc_id", "hs",
      ("hs1", "hs2"))((inter.cast("double") /
        (size(col("hs1")) + size(col("hs2")) - inter)).as("jaccard"))
  }

  /** One row per doc: its shingle set `hs` — the verify payload. */
  private def shingleSets(idx: DataFrame): DataFrame =
    idx.groupBy("doc_id").agg(collect_set(col("sh")).as("hs"))

  /** ASYMMETRIC CONTAINMENT pairs — quote/subset detection (the
    * RefinedWeb-style refinement Jaccard misses: a short doc fully
    * quoted inside a long one has tiny Jaccard but containment ~1):
    * every ordered pair (d1, d2) with |A∩B| / |A| >= tau over word
    * n-gram shingle sets, EXACT.
    *
    * Candidate generation is the containment prefix filter
    * (pigeonhole): |A∩B| >= ceil(tau*|A|) =: m forces A to share one
    * of its first |A| - m + 1 shingles (in any fixed global order —
    * rarity order keeps the join small) with B, so the candidate join
    * runs A-prefix x B-full-index instead of all-pairs; candidates
    * verify exactly. Never all-pairs, same 100 TB shape as
    * [[jaccardPairs]] (the B side is the inverted index the dedup
    * family already maintains). */
  def containmentPairs(docs: DataFrame, n: Int, tau: Double,
                       textCol: String = "text"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1]: $tau")
    val idx = hashedShingleIndex(docs, n, textCol)
    // persisted: BOTH sides of the candidate join derive from this
    // frame (same rationale as jaccardPairs' prefix persist — the
    // df-join + two windows would otherwise run twice)
    val sized = Caches.persist(rarityRanked(idx))
    // required overlap m = ceil(tau*|A|). BOTH-prefix pigeonhole (the
    // standard overlap-join lemma over one common total order): an
    // overlap >= m forces a shared shingle inside A's (|A|-m+1)-prefix
    // AND inside B's (|B|-m+1)-prefix — the B-side position constraint
    // is what keeps hot shingles (which sort LATE in rarity order) out
    // of the candidate join; A-prefix alone exploded to ~10M
    // candidates on the hot-shingle synthetic corpus (30 s at sf0.1).
    // |B| >= m is the containment length filter (C >= tau needs B at
    // least that big).
    // FpEps: see jaccardPairs — an ulp-high integral product must not
    // shorten the prefix (overshoot drops boundary pairs); undershoot
    // only loosens the filter, which the exact verify absorbs
    val m1 = ceil(lit(tau) * col("sz") - lit(FpEps)).cast("long")
    val prefix = sized
      .where(col("pos") <= col("sz") - m1 + 1)
      .select(col("doc_id").as("d1"), col("sh"), m1.as("m"),
        col("pos").as("pos1"), col("sz").as("sz1"))
    val cands = Candidates.pairs(prefix,
        sized.select(col("doc_id").as("d2"), col("sh"),
          col("pos").as("pos2"), col("sz").as("sz2")), Seq("sh"),
        l("d1") =!= r("d2") && r("sz2") >= l("m") &&
          r("pos2") <= r("sz2") - l("m") + 1 &&
          // PPJoin positional filter: a pair's FIRST shared shingle (in
          // the common order) bounds the overlap by what remains after
          // it on both sides; a true-overlap >= m pair always keeps that
          // first witness, so pruning witness rows failing the bound is
          // exact while dropping the hot-shingle tail matches
          least(l("sz1") - l("pos1"), r("sz2") - r("pos2")) + 1 >= l("m"))(
        l("d1"), r("d2"))
      .distinct()
    Candidates.verify(cands, ("d1", "d2"), shingleSets(idx), "doc_id", "hs",
        ("h1", "h2"))(
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(col("h1"))).as("containment"))
      .where(col("containment") >= tau)
  }

  /** FUZZY benchmark decontamination — the near-dup refinement of the
    * exact n-gram `contaminated` flag: a lightly paraphrased or
    * truncated eval item shares no exact 8-gram but still leaks, so
    * the guard here flags corpus docs whose n-gram JACCARD against ANY
    * benchmark doc reaches `tau`. Returns one row per flagged doc:
    * the distinct benchmark docs hit and the best (max) Jaccard.
    *
    * 100 TB shape: the BENCHMARK is the small side — its band-bucket
    * index broadcasts, the corpus's own band index (the same written
    * artifact the dedup family maintains) streams once through the
    * bucket join, and the exact verification touches candidate pairs
    * only. The corpus never self-joins and never compares against the
    * benchmark all-pairs. Banding at 128 hashes / 64 bands × 2 rows:
    * P(candidate) = 1 − (1 − j²)^64 ≥ 1 − 1.1e-8 at j = 0.5, so at
    * tau ≥ 0.5 the candidate set misses nothing in practice (and the
    * seeded hashes make recall deterministic per corpus — at the
    * GATED sfs the oracle comparison is therefore repeatable, never a
    * per-run dice roll; on unseen corpora the CONTRACT is recall
    * ≈ 1 − (1−j²)^64 per qualifying pair, not exactness). */
  def fuzzyContaminated(corpus: DataFrame, bench: DataFrame,
                        n: Int = 2, tau: Double = 0.5,
                        textCol: String = "text"): DataFrame = {
    // tau FLOOR: the banded candidate recall 1-(1-tau^2)^64 degrades
    // fast below 0.5 (0.5 -> miss ~1.1e-8/pair; 0.3 -> ~2.4e-3/pair),
    // and the oracle contract (exact all-pairs) only holds when misses
    // are negligible at any realistic pair count. Callers needing a
    // lower tau must widen the banding (more hashes / fewer rows per
    // band), not silently accept probabilistic false negatives.
    require(tau >= 0.5,
      s"fuzzyContaminated: tau=$tau below the 0.5 recall floor for " +
        "128-hash/64-band LSH; widen the banding before lowering tau")
    val cIdx = minhashBandIndex(corpus, n, numHashes = 128, bands = 64,
      textCol = textCol)
    val bIdx = minhashBandIndex(bench, n, numHashes = 128, bands = 64,
      textCol = textCol)
    val cands = Candidates.pairs(cIdx,
        broadcast(bIdx.select(col("doc_id").as("bench_id"),
          col("band"), col("bh"))), Seq("band", "bh"))(
        l("doc_id").as("d1"), r("bench_id").as("d2"))
      .distinct()
    // both pair sides must resolve in ONE doc frame for the exact
    // verify; benchmark rows union in only for ids ABSENT from the
    // corpus (anti-join on the small side), so an id collision
    // resolves to the corpus text DETERMINISTICALLY — dropDuplicates
    // would keep an arbitrary row and flip verifications run to run
    val all = corpus.select(col("doc_id"), col(textCol))
      .unionByName(bench.select(col("doc_id"), col(textCol))
        .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti"))
    jaccardForPairs(all, cands, n, textCol)
      .where(col("jaccard") >= tau)
      .groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
  }

  /** MinHash signatures: one row per doc, `numHashes` min-hash values.
    * Computed as one grouped aggregation over the inverted index (no
    * per-doc loops; map-side partial mins make the shuffle tiny).
    *
    * The hash family is seeded xxhash64 (`xxhash64(i, sh)`): pure
    * 64-bit codegen. An earlier (a*x+b) mod p variant needed
    * decimal(38) arithmetic to dodge long overflow — 128 BigDecimal
    * ops per index row dominated the whole LSH job. */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int,
                        textCol: String = "text"): DataFrame = {
    val idx = hashedShingleIndex(docs, n, textCol)
    val aggs = (0 until numHashes).map { i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh_$i")
    }
    idx.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash BAND-BUCKET INDEX: (doc_id, band, bh) — the written
    * index artifact of MinHash LSH. Built once per accepted batch and
    * unioned into the corpus index (at rest: bucketed by (band, bh)),
    * it is all [[incrementalMinhash]] ever reads of the corpus. */
  def minhashBandIndex(docs: DataFrame, n: Int = 2, numHashes: Int = 128,
                       bands: Int = 32,
                       textCol: String = "text"): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    // persisted: a banding self-join would otherwise recompute (and
    // re-codegen) the whole 128-agg signature plan on both sides
    val sig = Caches.persist(minhashSignatures(docs, n, numHashes, textCol))
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64((bnd * rows until (bnd + 1) * rows)
          .map(i => col(s"mh_$i")): _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
  }

  /** MinHash + LSH near-dup pairs: band the signatures, bucket-join,
    * then verify candidates with EXACT Jaccard (so precision is 1.0 and
    * only recall depends on the banding). bands*rowsPerBand must equal
    * numHashes. */
  def minhashLsh(docs: DataFrame, n: Int = 2, numHashes: Int = 128,
                 bands: Int = 32, tau: Double = 0.8,
                 textCol: String = "text"): DataFrame = {
    val buckets = minhashBandIndex(docs, n, numHashes, bands, textCol)
    val candidates = Candidates.pairs(buckets, buckets, Seq("band", "bh"),
        l("doc_id") < r("doc_id"))(l("doc_id").as("d1"), r("doc_id").as("d2"))
      .distinct()
    // verify: exact jaccard computed for the candidate pairs only —
    // this is the whole point of LSH (the all-pairs job never runs);
    // the hashed index is the same plan the signatures used, so the
    // cached materialization is shared
    jaccardForPairs(docs, candidates, n, textCol,
      Some(hashedShingleIndex(docs, n, textCol)))
      .where(col("jaccard") >= tau)
  }

  /** INCREMENTAL MinHash near-dup detection — the growing-corpus
    * shape, the near-dup analog of [[incrementalExact]]: the corpus
    * exposes only its band-bucket index ([[minhashBandIndex]], built
    * when each batch was accepted); an incoming batch computes its own
    * bands, joins them against corpus-index ∪ self (the batch side
    * broadcast — batches are small next to the corpus), and only the
    * candidates are verified with exact Jaccard over a semi-join-
    * pruned doc slice. Corpus×corpus never reruns; the corpus text is
    * touched only for candidate members. Emits every near-dup pair
    * involving a batch doc (batch×corpus and batch×batch). */
  def incrementalMinhash(corpusDocs: DataFrame, corpusIndex: DataFrame,
                         batch: DataFrame, n: Int = 2,
                         numHashes: Int = 128, bands: Int = 32,
                         tau: Double = 0.8,
                         textCol: String = "text"): DataFrame = {
    val batchIdx = Caches.persist(
      minhashBandIndex(batch, n, numHashes, bands, textCol))
    val candidates = Caches.persist(Candidates.pairs(
        corpusIndex.unionByName(batchIdx), broadcast(batchIdx),
        Seq("band", "bh"), l("doc_id") =!= r("doc_id"))(
        least(l("doc_id"), r("doc_id")).as("d1"),
        greatest(l("doc_id"), r("doc_id")).as("d2"))
      .distinct())
    val ids = candidates.select(col("d1").as("doc_id"))
      .unionByName(candidates.select(col("d2").as("doc_id"))).distinct()
    val needed = corpusDocs.unionByName(batch)
      .join(ids, Seq("doc_id"), "left_semi")
    jaccardForPairs(needed, candidates, n, textCol)
      .where(col("jaccard") >= tau)
  }

  /** 64-bit SimHash fingerprints: per bit, the sign of the sum of ±1
    * votes from each distinct token's hash. One grouped agg. */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // computeParallel: tokenize+explode fan-out pre-shuffle — see
    // shingleIndex / substringSpanRemoval
    val idx = Similarity.computeParallel(docs).select(col("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), 1)).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bitAggs = (0 until 64).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"bit_$i")
    }
    val votes = idx.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"bit_$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming,
    * blocked on 16-bit chunks (pigeonhole: distance ≤3 ⇒ at least one
    * of 4 chunks identical) so the join is bucketed, never all-pairs. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text"): DataFrame = {
    val fps = simhash(docs, textCol)
    val chunks = (0 until 4).map(i => struct(lit(i).as("chunk"),
      shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("ck")))
    val blocked = fps.select(col("doc_id"), col("simhash"),
        explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.ck"))
    // persisted: the self-join would otherwise run the 64-bit-vote
    // aggregation twice
    val blockedC = Caches.persist(blocked)
    Candidates.pairs(blockedC, blockedC, Seq("chunk", "ck"),
        l("doc_id") < r("doc_id"))(
        l("doc_id").as("d1"), r("doc_id").as("d2"),
        bit_count(l("simhash").bitwiseXOR(r("simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Largest slice [[embeddingDupPairs]] will square. 100k × 64-dim
    * float vectors ≈ 30 MB broadcast and 5e9 candidate pairs — the
    * outer edge of where an exact quadratic pass is ever the right
    * tool; anything larger belongs to the LSH path. */
  val EmbeddingExactMax = 100000L

  /** Embedding-cosine near-dup pairs, EXACT: a plain self-join,
    * quadratic in the corpus — the exact baseline, same role
    * brute-force [[Similarity.cosineTopK]] plays for ANN. Use when the
    * corpus (or a filtered slice of it) is small enough to square; the
    * 100 TB path is [[embeddingDupPairsLsh]]. */
  def embeddingDupPairs(emb: DataFrame, tau: Double): DataFrame = {
    val raw = emb.select(col("vec_id"), col("embedding"))
    // the 'squarable slice' contract, enforced loud (mirrors the
    // tau>=0.5 recall floor in fuzzyContaminated): past this bound the
    // broadcast side risks driver OOM / broadcast-limit failure and
    // the n²/2 cosine pass is the wrong algorithm — callers must
    // route through embeddingDupPairsLsh. limit(n+1).count() probes
    // the bound without a full scan of an oversized input.
    require(raw.limit(EmbeddingExactMax.toInt + 1).count() <= EmbeddingExactMax,
      s"embeddingDupPairs is the EXACT quadratic baseline for slices of" +
        s" <= $EmbeddingExactMax vectors (broadcast self-join); this input" +
        " exceeds it — use embeddingDupPairsLsh for corpus-scale near-dup")
    // the non-equi pair join is a broadcast nested loop: pin the
    // broadcast side (this operator's contract is a squarable slice)
    // and split the STREAMED side by compute — a one-split input
    // otherwise runs the whole n²/2 cosine pass in a single task
    // (sf10 probe: 85 s for a 4M-pair join that parallelizes to ~3 s)
    Candidates.pairs(Similarity.computeParallel(raw), broadcast(raw), Nil,
        l("vec_id") < r("vec_id"))(cosinePair: _*)
      .where(col("cosine") >= tau)
  }

  /** Embedding-cosine near-dup pairs at scale: candidates are pairs
    * that share a hyperplane-LSH bucket in ANY of `tables` independent
    * tables (the pair analog of [[Similarity.lshTopK]] — candidate
    * probability 1 − (1 − p^planes)^tables for per-plane agreement
    * p = 1 − θ/π), then verified with EXACT cosine so precision is 1.0
    * and only recall depends on the banding. The self-join runs
    * per (table, bucket) — never all-pairs; at 100 TB the bucketed
    * frame is the written index, partitioned by (table, bucket).
    *
    * The plane count is sized from the corpus
    * ([[Similarity.autoPlanes]]): per-bucket occupancy targets
    * ~512 rows so the bucket self-join stays linear in n, capped by
    * the recall-feasibility bound AT THIS τ. The cap is the honest
    * part: at τ=0.4 (p≈0.66) feasible k for 8 tables is 4, so the
    * loose-τ shape CANNOT bucket harder without going blind — its
    * cost at fixed recall is Θ(n^(1+ρ)) by LSH theory, measured 808 s
    * at 5M vectors; the production near-dup threshold (τ≥0.9, p≈0.86,
    * feasible k≈12) buckets ~250× harder and scales near-linearly.
    * Gated-sf shapes are bit-identical (≤5k vectors → k=4). */
  def embeddingDupPairsLsh(emb: DataFrame, tau: Double, dim: Int = 64,
                           tables: Int = 8): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    // tables = 0 opts into the theory-true joint (k, L) sizing
    // ([[Similarity.autoKL]]): corpus-ideal k, recall-derived L —
    // the n^(1+ρ) curve. tables > 0 (the default, and every gated-sf
    // caller) keeps L fixed and lets k grow only to that L's recall
    // feasibility bound.
    val (nPlanes, nTables) =
      if (tables == 0) Similarity.autoKL(base.count(), 512L, tau)
      else (Similarity.autoPlanes(base.count(), 512L, tau, tables,
        multiprobe = false), tables)
    // persisted: the bucket self-join would otherwise hash the corpus
    // through the plane projections twice
    val bucketed = Caches.persist(
      Similarity.lshBuckets(base, nPlanes, dim, nTables)
        .select(col("vec_id"), col("table"), col("bucket"),
          col("embedding")))
    Candidates.pairs(bucketed, bucketed, Seq("table", "bucket"),
        l("vec_id") < r("vec_id"))(cosinePair: _*)
      .distinct() // a pair can meet in several tables
      .where(col("cosine") >= tau)
  }

  /** (v1, v2, cosine) of a [[Candidates.pairs]] join over embeddings. */
  private def cosinePair: Seq[Column] =
    Seq(l("vec_id").as("v1"), r("vec_id").as("v2"),
      Similarity.cosineFixed(l("embedding"), r("embedding")).as("cosine"))

  /** Connected components over a near-dup pair frame — turns pairwise
    * matches into DEDUP CLUSTERS: (member, root) with root = the
    * component's minimum id, so "keep one per cluster" is
    * `where(member === root)` and the drop set is everything else.
    *
    * Algorithm: min-label propagation with PATH HALVING — each round
    * every node takes the minimum label over itself and its neighbors
    * (join + min-aggregate), then jumps to its label's label (pointer
    * doubling). The halving step turns diameter-bound convergence into
    * log(diameter): near-dup graphs are mostly cliques (1-2 rounds
    * either way) but jaccard-threshold CHAINS (A~B~C without A~C) are
    * common in adversarial corpora and would otherwise pay a round per
    * hop. Same primitive Kiveris et al. (SoCC'14) build large-star
    * from. Lineage is truncated per round (localCheckpoint), the
    * standard guard for iterative frames. Nodes outside any pair are
    * not emitted (singletons are their own root by definition). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = Caches.persist(
      pairs.select(col("v1").as("src"), col("v2").as("dst"))
        .unionByName(pairs.select(col("v2").as("src"), col("v1").as("dst")))
        .distinct())
    // each round's checkpoint is released once the next is
    // materialized; the last one is the result and stays registered
    var ck = Caches.localCheckpoint(edges.select(col("src").as("node"))
      .distinct().withColumn("label", col("node")))
    var labels = ck
    var iter = 0
    var converged = false
    try while (!converged && iter < maxIter) {
      val msgs = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
      val prop = labels.join(msgs, col("node") === col("src"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // path halving: jump to the label's label — labels only
      // decrease, so this can't overshoot the component minimum
      val lut = prop.select(col("node").as("ln"), col("label").as("ll"))
      // labels only decrease, so "changed" is final < old — carried as
      // a flag through the checkpoint, no second pass
      val next = Caches.localCheckpoint(
        prop.join(lut, col("label") === col("ln"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("ll"), col("label")))
              .as("label"),
            (least(col("label"), coalesce(col("ll"), col("label"))) <
              col("old")).as("chg")),
        eager = false) // lazy: materialized by the count below
      // ONE action per round: counting the changed rows computes every
      // partition of the lazily-checkpointed frame, so the same job
      // that truncates lineage also answers convergence (the eager-
      // checkpoint + isEmpty-probe formulation paid two jobs per round)
      converged = next.where(col("chg")).count() == 0L
      Caches.release(ck)
      ck = next
      labels = next.drop("chg")
      iter += 1
    } finally Caches.release(edges)
    require(converged, s"connected components still changing after " +
      s"$maxIter rounds — raise maxIter (diameter-bound exceeded)")
    labels.select(col("node").as("member"), col("label").as("root"))
  }

  /** Cluster-REPRESENTATIVE selection — finish dedup by keeping the
    * BEST member of each near-dup cluster instead of the arbitrary
    * min-id root: join the (member, root) assignment to a per-doc
    * score and take the top scorer (ties → min member id) per root.
    * The window runs over the cluster-member table — pair-connected
    * docs only, drop-set-sized, never corpus-sized — so this is cheap
    * even at 100 TB (the corpus-sized work already happened in pair
    * generation). Docs outside any cluster are their own
    * representative by definition and are not emitted. */
  def canonical(clusters: DataFrame, scores: DataFrame, scoreCol: String,
                idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("root"))
      .orderBy(col(scoreCol).desc, col("member"))
    clusters.join(scores, clusters("member") === scores(idCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("root"), col("member").as("canonical"), col(scoreCol))
  }

  /** SOFT dedup — REWEIGHT instead of drop (the SoftDedup idea: keep
    * every near-dup cluster member and down-weight each by its cluster
    * size, so training sees the content once in expectation without
    * the hard-dedup cliff; the sampling-weight counterpart of
    * [[canonical]]). Output = (doc_id, weight) for EVERY corpus doc:
    * clustered members get round(1/|cluster|, 6), untouched docs 1.0.
    *
    * 100 TB shape: cluster sizes are one groupBy over the
    * DROP-SET-SIZED cluster frame; the corpus left-joins that small
    * frame (broadcast) — the non-dup mass never shuffles. */
  def softWeights(clusters: DataFrame, docs: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val sizes = clusters.groupBy("root").agg(count(lit(1)).as("__csz"))
    val memberW = clusters.join(sizes, "root")
      .select(col("member").as(idCol),
        round(lit(1.0) / col("__csz"), 6).as("__w"))
    // NO explicit broadcast hint: a heavily duplicated corpus can make
    // the member frame corpus-scale, and a hard hint would OOM the
    // driver; the frame stays a lazy plan and AQE picks broadcast at
    // RUNTIME from the build side's actual size (the drop-set-sized
    // common case), falling back to shuffle otherwise
    docs.select(col(idCol))
      .join(memberW, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__w"), lit(1.0)).as("weight"))
  }

  /** EXACT-SUBSTRING dup pairs (the criterion of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): two documents pair iff they share at
    * least one `n`-token window, with the count of shared distinct
    * windows as evidence. Windows are 64-bit-hashed into an inverted
    * gram index and pairs come from the index self-join — sum(df²)
    * over gram frequencies, never corpus×corpus.
    *
    * 100 TB note: a gram hot across m docs contributes m² pairs —
    * that blowup is intrinsic to ENUMERATING pairs under this metric,
    * not to the plan; production span-removal consumes the gram index
    * directly (per-gram doc lists) and never materializes pairs. This
    * operator is the audit/report surface. */
  def substringDupPairs(docs: DataFrame, n: Int = 16,
                        textCol: String = "text"): DataFrame = {
    val grams = shingleIndex(docs, n, textCol)
      .select(col("doc_id"), xxhash64(col("sh")).as("g"))
    // written out, not through Candidates.pairs: the grouping keys are
    // the join's own columns, a projection before them would move the plan
    val a = grams.alias("a"); val b = grams.alias("b")
    a.join(b, col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** EXACT-SUBSTRING SPAN REMOVAL — the production consumer of the
    * gram index that [[substringDupPairs]]'s Scaladoc points to (Lee
    * et al. 2022 §3: remove later occurrences of any duplicated
    * `n`-token window, keep the first in corpus order): every token
    * position covered by a window whose first occurrence (by
    * (doc_id, pos)) is elsewhere gets dropped, and documents are
    * rebuilt from the surviving tokens.
    *
    * Scale shape, and why this avoids [[substringDupPairs]]'s
    * intrinsic m² blowup: ownership is a map-side-combinable
    * `groupBy(gram).agg(min(struct(doc_id, pos)))` — a gram hot
    * across m documents costs m rows through one combine tree, and
    * pairs are never enumerated. Covered positions explode to at most
    * n rows per duplicated window occurrence (bounded by corpus token
    * count), and the rebuild is one per-doc groupBy with an in-row
    * sort. Three shuffles total (gram key, (doc, pos) distinct, doc
    * key), all combinable. */
  def substringSpanRemoval(docs: DataFrame, n: Int = 16,
                           textCol: String = "text"): DataFrame = {
    // computeParallel (same rationale as shingleIndex): the tokenize +
    // per-position gram hash explode multiplies each input row ~100×,
    // and a corpus packed into a handful of parquet splits would run
    // that entire map stage on those few tasks before the gram-key
    // shuffle widens the plan; no-op when the scan already has
    // default-parallelism splits (every at-scale corpus)
    val toks = Similarity.computeParallel(docs).select(col("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    val grams = toks.where(size(col("ts")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - n),
          i => xxhash64(array_join(slice(col("ts"), i + 1, lit(n)), " "))))
          .as(Seq("pos", "g")))
    val owner = grams.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val covered = grams.join(owner, Seq("g"))
      .where(col("first.doc_id") =!= col("doc_id") ||
        col("first.pos") =!= col("pos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tp"))
      .distinct()
    val tokpos = toks.select(col("doc_id"),
      posexplode(col("ts")).as(Seq("tp", "tok")))
    val kept = tokpos.join(covered, Seq("doc_id", "tp"), "left_anti")
    toks.select(col("doc_id"), size(col("ts")).as("n_tokens"))
      .join(kept.groupBy("doc_id").agg(
          count(lit(1)).cast("int").as("n_kept"),
          array_join(transform(array_sort(
              collect_list(struct(col("tp"), col("tok")))),
            s => s.getField("tok")), " ").as("clean_text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** BLOOM-PRE-FILTERED incremental exact dedup — the sketch path for
    * the growing-corpus shape of [[incrementalExact]]: instead of
    * joining EVERY batch row against the corpus digest index, a Bloom
    * filter built over the index (Spark's native `BloomFilterAggregate`
    * — distributed build, mergeable buffers, sketch-sized result)
    * splits the batch at scan time with a codegen'd
    * `BloomFilterMightContain` literal:
    *   - bloom says NO  → the digest is CERTAINLY absent from the
    *     corpus (no false negatives) — the row skips the join entirely;
    *   - bloom says MAYBE → exact anti-join against the index removes
    *     the false positives.
    * At 100 TB the verify join's probe side shrinks from |batch| to
    * |actual dups| + fpp·|batch| — for a mostly-novel batch the corpus
    * index is barely touched — while the result stays EXACTLY equal to
    * [[incrementalExact]] (the declared query's oracle is the same SQL).
    *
    * The built sketch is collected to the driver (bounded:
    * `optimalNumOfBits(expectedItems, fpp)` bits, ~1.2 MB at 1M items /
    * 1% fpp) and re-enters the plan as a BINARY LITERAL, the same shape
    * Spark's own runtime-filter injection produces — membership checks
    * stay inside whole-stage codegen, nothing shuffles. */
  def bloomIncremental(corpusDigests: DataFrame, incoming: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       expectedItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.ColumnBridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("digest"))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloom = corpusDigests.agg(bloomAgg.as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val inc = incoming.withColumn("digest", md5(col(textCol)))
    val mightContain =
      if (bloom == null) lit(false) // empty corpus: everything is new
      else ColumnBridge.column(BloomFilterMightContain(
        Literal(bloom, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("digest")))))
    val definitelyNew = inc.where(!mightContain)
    val verified = inc.where(mightContain)
      .join(corpusDigests, Seq("digest"), "left_anti")
    val w = Window.partitionBy("digest").orderBy(idCol)
    definitelyNew.unionByName(verified)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** CORPUS-LEVEL PARAGRAPH DEDUP (the RefinedWeb/C4 line-dedup
    * recipe): every duplicated line occurrence across the WHOLE corpus
    * is removed except the first (ordered by (doc_id, line index));
    * documents are reassembled from their surviving lines.
    *
    * Scale shape: line ownership is a map-side-combinable
    * `groupBy(line).agg(min(struct(doc_id, idx)))` — NOT a window, so
    * a boilerplate line duplicated across millions of pages costs one
    * combine tree, never a single-task sort; the ownership table is
    * distinct-line-sized. Reassembly is one groupBy over doc_id with
    * an in-row sort of the surviving line structs. Two shuffles total
    * (line key, doc key), both on hashable keys. */
  def paragraphDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // computeParallel: the line explode fans out ~30× per doc and runs
    // pre-shuffle — see substringSpanRemoval
    val lines = Similarity.computeParallel(docs).select(col("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .where(col("line") =!= "")
    val owner = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    val kept = lines.join(owner, Seq("line"))
      .where(col("first.doc_id") === col("doc_id") &&
        col("first.idx") === col("idx"))
    val nLines = docs.select(col("doc_id"),
      size(filter(split(col(textCol), "\n"), l => l =!= ""))
        .as("n_lines"))
    nLines.join(
        kept.groupBy("doc_id").agg(
          count(lit(1)).cast("int").as("n_kept"),
          array_join(transform(array_sort(
              collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")), "\n").as("dedup_text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** SEMANTIC near-dup pairs (the SemDeDup recipe, Abbas et al. 2023):
    * k-means the embedding space, then compare cosine ONLY within a
    * cluster — the trained-partition alternative to the stateless
    * LSH bucketing of [[embeddingDupPairsLsh]]. Recall misses are
    * exactly the cross-cluster pairs (measured by the declared query's
    * oracle against the exact pair set); precision is 1.0 because
    * every emitted pair carries an exact cosine >= tau.
    *
    * 100 TB shape: [[Similarity.kmeans]] is scan+k×dim-shuffle per
    * iteration; the pair join runs per cluster (corpus/k-sized
    * blocks, and at scale the assignment is the written partition
    * key, so each cluster self-joins co-located). Cosine is rounded
    * to 6 decimals BEFORE thresholding — the cross-engine grid the
    * oracle compares on. Returns (cluster, v1, v2, cosine). */
  def semanticPairs(emb: DataFrame, tau: Double, k: Int = 10,
                    iters: Int = 2): DataFrame = {
    val assigned = Similarity.kmeans(emb, k, iters)
    val m = Caches.persist(emb.select(col("vec_id"), col("embedding"))
      .join(assigned, Seq("vec_id")))
    clusterPairs(m, "embedding", tau)
  }

  /** Exact in-cluster pairs of a (vec_id, `vec`, cluster) frame:
    * (cluster, v1, v2, cosine) with the cosine rounded to 6 decimals
    * before the `tau` threshold. */
  private def clusterPairs(m: DataFrame, vec: String, tau: Double): DataFrame =
    Candidates.pairs(m, m, Seq("cluster"), l("vec_id") < r("vec_id"))(
        l("cluster").as("cluster"), l("vec_id").as("v1"), r("vec_id").as("v2"),
        round(Similarity.cosineFixed(l(vec), r(vec)), 6).as("cosine"))
      .where(col("cosine") >= tau)

  /** SCALE-SAFE SemDeDup: the same (cluster, v1, v2, cosine) contract
    * as [[semanticPairs]], with BOTH quadratic-by-construction costs
    * of the flat form replaced:
    *
    *   1. ASSIGNMENT. Flat SemDeDup at its k = n/50 contract pays
    *      n·k distance evals — Θ(n²/50), measured 14.4× for one 10×
    *      decade at 500k vectors. Here k is CAPPED at 1024 (the fit
    *      stays linear, one corpus-scan per Lloyd
    *      iteration through the native argmin) and every vector is
    *      assigned TWO-LEVEL: coarse cell = argmin over the ~√k
    *      centroids of the fine centroids' own (driver-side) Lloyd
    *      clustering, then fine cluster = argmin over just that
    *      cell's children — n·(√k + k/√k) evals, one corpus pass,
    *      single codegen'd [[graft.functions.CellArgmin]] loop per
    *      row. The fine quantizer is an index artifact
    *      ([[Similarity.kmeansCentroids]]): trained once per corpus
    *      snapshot, disk-cached across JVMs like the IVF quantizer.
    *   2. IN-CLUSTER PAIRS. While expected cluster size n/k stays ≤
    *      `squarableCell`, pairs are the exact in-cluster self-join
    *      (the shape the DuckDB oracle mirrors — always the case at
    *      the gated sfs). Past the cap, cluster sizes grow with n and
    *      the exact join is quadratic again, so mining switches to
    *      LSH banding WITHIN clusters — candidates share (cluster,
    *      table, bucket), verified with exact cosine; the theory-true
    *      (k, L) production sizing of [[Similarity.autoKL]], same as
    *      the τ=0.9 prod miner. The switch is deterministic in
    *      (n, k), so gated-sf results are bit-identical to the exact
    *      form.
    *
    * Reference anchor: SemDeDup (Abbas et al., 2023) trains a fixed-k
    * quantizer and dedups within cells; the two-level assignment is
    * the standard IVF-style build. Reference repo scale story:
    * SURVEY §7.3 step 9. */
  def semanticPairs2L(emb: DataFrame, tau: Double,
                      squarableCell: Int = 1000): DataFrame = {
    // flat SemDeDup's ~50 vectors per cluster, capped at 1024 clusters;
    // 2 Lloyd rounds at both levels
    val iters = 2
    val n = emb.count()
    val k = math.max(10L, math.min(1024L, n / 50)).toInt
    val fine = Similarity.kmeansCentroids(emb, k, iters)
    val coarseK = math.max(1,
      math.min(32, math.ceil(math.sqrt(k.toDouble)).toInt))
    val (coarse, fineCell) = Similarity.lloydDriver(fine, coarseK, iters)
    // non-empty coarse cells ascending; fine ids per cell ascending —
    // the strict-less argmins then tie to the lowest cell / lowest
    // global fine id, the (dist ASC, id ASC) rank the oracle mirrors
    val byCell: IndexedSeq[(Int, Array[Int])] = fineCell.zipWithIndex
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (cell, xs) => cell -> xs.map(_._2).sorted.toArray }
    val neCents = byCell.map { case (cell, _) => coarse(cell).toArray }
      .toArray
    val cellCents = byCell.map { case (_, fids) =>
      fids.map(f => fine(f).toArray) }.toArray
    val cellIds = byCell.map(_._2).toArray
    // COARSE MULTI-PROBE: route each vector through its `probes`
    // nearest non-empty cells and argmin over the union of their
    // children. Top-1 routing squares the per-vector cell-boundary
    // misroute probability into PAIR loss — the r17 planted-recall
    // P-curve on the ADVERSARIAL near-uniform decade corpus (50k
    // vectors, 32 cells, flat ceiling 0.812): P=1 0.523, P=2 0.571,
    // P=4 0.637, P=8 0.720, P=16 0.770, P=32 ≡ flat 0.812 exactly
    // (STATUS.md, r17 headline — the ≡ also pins the 2L machinery's
    // bit-consistency with the flat argmin). Default P = ⌈cells/4⌉
    // (floor 2): assignment cost P·(k/√k)+√k dots/row stays ~√k-class
    // (the mining pass dominates end-to-end — measured +P made no
    // wall difference), while real clustered embeddings sit far
    // closer to the ceiling than this uniform worst case — the same
    // adversarial-corpus caveat as the IVF cell methods.
    val probes = math.min(neCents.length,
      math.max(2, (neCents.length + 3) / 4))
    val e = Caches.persist(Similarity.computeParallel(
      emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))))
    val m = Caches.persist(e.select(col("vec_id"), col("v"),
      graft.functions.VectorExprs.cellsArgmin(col("v"),
        graft.functions.VectorExprs.centroidTopNDist(col("v"), neCents,
          probes),
        cellCents, cellIds).as("cluster")))
    if (n.toDouble / k <= squarableCell) clusterPairs(m, "v", tau)
    else {
      // clusters too large to square: candidates must ALSO share an
      // LSH bucket inside their cluster. Production (τ≥0.9) bands
      // hard; the candidate volume per cluster is
      // Θ(size^(1+ρ))/cluster — the same curve as the global prod
      // miner, partitioned by cluster.
      val dim = fine.head.length
      val (kp, lt) = Similarity.autoKL(n, 512L, tau)
      val bucketed = Caches.persist(Similarity.lshBuckets(
        m.select(col("vec_id"), col("cluster"),
          col("v").as("embedding")), kp, dim, lt)
        .select("vec_id", "cluster", "table", "bucket"))
      val cand = Candidates.pairs(bucketed, bucketed,
          Seq("cluster", "table", "bucket"), l("vec_id") < r("vec_id"))(
          l("cluster").as("cluster"), l("vec_id").as("v1"),
          r("vec_id").as("v2"))
        .distinct() // a pair can meet in several tables
      Candidates.verify(cand, ("v1", "v2"), m, "vec_id", "v", ("va", "vb"))(
          round(Similarity.cosineFixed(col("va"), col("vb")), 6)
            .as("cosine"))
        .where(col("cosine") >= tau)
    }
  }
}
