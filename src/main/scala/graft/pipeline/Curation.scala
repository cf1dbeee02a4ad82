package graft.pipeline

import graft.ops.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for large-scale training-data pipelines:
  * per-source quota sampling, PII redaction, benchmark
  * decontamination. Like [[TextAnalysis]], everything is pure
  * `Column` expressions or single-shuffle relational shapes — no UDFs,
  * nothing driver-side.
  */
object Curation {

  /** Per-key QUOTA SAMPLING — keep at most `quota` documents per key
    * (domain/source caps, the standard training-mix lever). Selection
    * is a deterministic pseudo-random order (md5 of the doc id, ties
    * by id) so the sample is reproducible AND unbiased w.r.t. corpus
    * order — taking the FIRST n per key would bias toward whatever the
    * upstream sort was.
    *
    * Scale — TWO-PHASE top-K, hot-key safe: top-`quota` under a total
    * order is decomposable (the global winners per key are always
    * contained in the union of per-slice winners), so phase 1 prunes
    * to ≤ `quota` rows per (key, source-partition) — a pathological
    * key is spread across its input partitions, and no task ever
    * sorts more than one partition's share of it — and phase 2 picks
    * the exact global top-`quota` over the pruned set, which is
    * bounded at quota × n_partitions rows per key no matter how
    * skewed the input is. Costs one extra (pruned, delta-sized)
    * shuffle vs the naive single window; the result is identical and
    * stays deterministic under any input partitioning because the
    * (md5, id) order is a tie-free total order. */
  def quotaSample(docs: DataFrame, keyCol: String, quota: Int,
                  idCol: String = "doc_id"): DataFrame = {
    val w2 = Window.partitionBy(col(keyCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    quotaPrune(docs, keyCol, quota, idCol)
      .withColumn("__rn", row_number().over(w2))
      .where(col("__rn") <= quota).drop("__rn")
  }

  /** Phase-1 of [[quotaSample]] alone (tests/telemetry): the pruned
    * intermediate whose per-key size bounds any later task's input. */
  private[graft] def quotaPrune(docs: DataFrame, keyCol: String,
                                quota: Int, idCol: String): DataFrame = {
    val w1 = Window.partitionBy(col(keyCol), col("__slice"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("__slice", spark_partition_id())
      .withColumn("__rn", row_number().over(w1))
      .where(col("__rn") <= quota).drop("__rn", "__slice")
  }

  /** Hex digit → value without engine-specific hex parsing: plain
    * ascii arithmetic reproduces everywhere (md5 output is lowercase). */
  private def hexVal(c: Column): Column =
    ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87))

  /** Deterministic TRAIN/VAL/TEST SPLIT by content-free hashing: each
    * doc gets a stable bucket in 0..255 from the first two hex chars
    * of md5(salt:id), and bucket ranges map to named splits (`cuts` =
    * ascending exclusive upper bounds; the default is ≈96/2/2%).
    *
    * Properties that matter at 100 TB: a doc's split depends only on
    * its own id (stable under corpus growth, shards, and re-runs — no
    * global sort or count), the salt gives independent re-splits, and
    * the arithmetic is portable (any engine with md5 reproduces the
    * assignment exactly). Pure projection — no shuffle, no state. */
  def hashSplit(docs: DataFrame, idCol: String = "doc_id",
                salt: String = "split",
                cuts: Seq[(String, Int)] = Seq(
                  "train" -> 246, "val" -> 251, "test" -> 256)): DataFrame =
    // cuts validation lives in splitOf (the one shared place)
    docs.withColumn("bucket", bucketOf(col(idCol), salt))
      .withColumn("split", splitOf(col("bucket"), cuts))

  /** Stable bucket in 0..255 from the first two hex chars of
    * md5(salt:key) — the shared arithmetic behind [[hashSplit]] and
    * [[clusterSplit]]. */
  private def bucketOf(key: Column, salt: String): Column = {
    val h = md5(concat(lit(salt + ":"), key.cast("string")))
    hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1))
  }

  /** Stable md5-uniform in [0,1) from (salt, id) — 4 hex chars, so
    * 65536 distinct values; shared by [[mixtureSample]] and
    * [[weightedSample]]. The distinct-value count is LOAD-BEARING for
    * the latter's cross-engine determinism (key gaps must dominate
    * libm pow noise) — change it in one place or not at all. */
  private def uniformOf(id: Column, salt: String): Column = {
    val h = md5(concat(lit(salt + ":"), id.cast("string")))
    Seq(1, 2, 3, 4).map(i => hexVal(substring(h, i, 1)))
      .reduce((a, c) => a * 16 + c).cast("double") / 65536.0
  }

  private def splitOf(bucket: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.nonEmpty && cuts.last._2 == 256 &&
      cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must ascend to 256: $cuts")
    cuts.foldRight(lit(cuts.last._1)) { case ((name, cut), acc) =>
      when(bucket < cut, lit(name)).otherwise(acc)
    }
  }

  /** LEAKAGE-SAFE train/val/test split: like [[hashSplit]], but the
    * hash key is the document's NEAR-DUP CLUSTER label (`clusters` =
    * (member, root) from [[Dedup.connectedComponents]] over any pair
    * frame), so every member of a near-dup cluster lands on the SAME
    * side. A plain per-doc split leaks: a test document's near-twin
    * sits in train and the eval measures memorization, not
    * generalization — the standard fix in code/LM dataset curation is
    * to split by dedup cluster, which this operator is.
    *
    * Scale shape: `clusters` is drop-set-sized (only docs that appear
    * in some pair), the join is a broadcast-or-shuffle left join on
    * the id, and the split itself stays the same portable md5
    * arithmetic — singletons (no cluster row) key on their own id,
    * identical to [[hashSplit]] up to the salt. No global state, no
    * sort; stable under corpus growth except where clusters
    * themselves merge (which genuinely must re-side). */
  def clusterSplit(docs: DataFrame, clusters: DataFrame,
                   idCol: String = "doc_id", salt: String = "csplit",
                   cuts: Seq[(String, Int)] = Seq(
                     "train" -> 246, "val" -> 251, "test" -> 256)): DataFrame = {
    val cl = clusters.select(col("member").as(idCol), col("root"))
    docs.join(cl, Seq(idCol), "left")
      .withColumn("group_key", coalesce(col("root"), col(idCol)))
      .withColumn("bucket", bucketOf(col("group_key"), salt))
      .withColumn("split", splitOf(col("bucket"), cuts))
      .drop("root")
  }

  /** Deterministic MIXTURE RESAMPLING: keep a doc iff its md5-derived
    * uniform `u(id) ∈ [0,1)` (first four hex chars / 65536) is below
    * its key's target rate — the domain-reweighting lever for a
    * training mixture (rates < 1 down-sample a source; absent keys
    * keep everything). Same portability/stability story as
    * [[hashSplit]]: per-doc decision, no global state, any engine
    * with md5 reproduces the kept set exactly. Pure filter — composes
    * with quota caps and dedup in one scan. */
  def mixtureSample(docs: DataFrame, keyCol: String,
                    rates: Map[String, Double], idCol: String = "doc_id",
                    salt: String = "mix"): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), s"rates in [0,1]: $rates")
    val rate = coalesce(element_at(typedLit(rates), col(keyCol)), lit(1.0))
    docs.where(uniformOf(col(idCol), salt) < rate)
  }

  /** TEMPERATURE-SMOOTHED mixture rates (the multilingual/multi-source
    * sampling recipe behind mT5/XLM-R: target share q_i ∝ p_i^alpha
    * for corpus share p_i — alpha < 1 up-weights small sources) with
    * EXACT WATERFILLING to a total document budget: a source whose
    * proportional draw N*q_i exceeds its size caps at rate 1 and its
    * unused budget redistributes over the rest, iterated to the fixed
    * point. The fixed point has closed form: sort sources by
    * n_i / q_i ascending (most-constrained first); the capped set is
    * the maximal prefix where the post-redistribution rate would still
    * be >= 1, and every later source gets rate R_j * q_i / (Q_j * n_i)
    * for the prefix's leftover budget R_j and weight Q_j — all prefix
    * sums over a SOURCE-COUNT-sized frame (a handful of rows at any
    * corpus size; the window is over k sources, never documents).
    *
    * Returns one row per source: n_docs, corpus share, smoothed target
    * share, and the keep rate (rounded 6 dp so a downstream
    * md5-uniform keep decision is bit-identical across engines).
    * Compose with [[mixtureSample]]'s `uniformOf(id) < rate` filter to
    * realize the draw. */
  def temperatureRates(docs: DataFrame, keyCol: String, alpha: Double,
                       budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1]: $alpha")
    require(budget > 0, s"budget > 0: $budget")
    val counts = docs.groupBy(col(keyCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = Window.partitionBy(lit(1))
    // q is pre-rounded to 12dp (the cross-engine discipline shared
    // with weightedSample/cosineTopK): pow() is libm-dependent and a
    // window-sum's summation order is engine-dependent, so an
    // unrounded q can sit an ulp off a 6dp rounding boundary vs the
    // oracle. 12dp absorbs ulp noise while preserving the closed form.
    val smoothed = counts
      .withColumn("p", col("n_docs") / sum("n_docs").over(tot))
      .withColumn("q", round(pow(col("p"), alpha) /
        sum(pow(col("p"), alpha)).over(tot), 12))
    // constraint order: a source caps iff budget_per_target-share
    // exceeds its size — n/q ascending puts sure-capped sources first
    val w = Window.partitionBy(lit(1))
      .orderBy((col("n_docs") / col("q")).asc, col("source").asc)
    val pref = smoothed
      .withColumn("cum_n", sum("n_docs").over(w))
      .withColumn("cum_q", sum("q").over(w))
    // source i caps iff EVEN AFTER every earlier (more constrained)
    // source capped and returned its leftover, i's rate would be >= 1:
    // (budget - cum_n(i-1)) * q_i / ((1 - cum_q(i-1)) * n_i) >= 1.
    // Monotone in the sort order, so `capped` is a prefix.
    val capped = (lit(budget.toDouble) - (col("cum_n") - col("n_docs"))) *
      col("q") >= (lit(1.0) - (col("cum_q") - col("q"))) * col("n_docs")
    val marked = pref.withColumn("capped", capped)
    val cappedAgg = marked.where(col("capped"))
      .agg(coalesce(sum("n_docs"), lit(0L)).as("cap_n"),
        coalesce(sum("q"), lit(0.0)).as("cap_q"))
    marked.crossJoin(broadcast(cappedAgg))
      .select(col("source"), col("n_docs"),
        round(col("p"), 6).as("share"),
        round(col("q"), 6).as("target_share"),
        round(round(when(col("capped"), lit(1.0)).otherwise(
          least(lit(1.0),
            (lit(budget.toDouble) - col("cap_n")) * col("q") /
              ((lit(1.0) - col("cap_q")) * col("n_docs")))), 12), 6)
          .as("rate"))
  }

  /** CORPUS SNAPSHOT DIFF by content digest — the data-ops primitive
    * behind incremental reprocessing ("which docs changed since the
    * last crawl?") and ingest auditing: per id, `added` (new id),
    * `removed` (id gone), `changed` (same id, different content
    * digest) or `unchanged`.
    *
    * 100 TB shape: both sides project to (id, md5) BEFORE the
    * full-outer join, so the text never moves — the shuffle carries
    * two 32-byte digests per id, and with both snapshots bucketed by
    * id it needs no exchange at all. Downstream incremental passes
    * anti-join on `unchanged` to touch only the delta. */
  def corpusDiff(prev: DataFrame, cur: DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // NULL text digests to a sentinel no md5 hex string can collide
    // with: md5(null) is null, and a null digest would read as "id
    // absent" — a prev-side null-text doc would misreport as `added`.
    // With the sentinel, null==null is `unchanged` and null vs text
    // is `changed`, which is what a diff means.
    def digest(c: Column) = coalesce(md5(c), lit("<null-text>"))
    val a = prev.select(col(idCol).as("__id"), digest(col(textCol)).as("__dp"))
    val b = cur.select(col(idCol).as("__id"), digest(col(textCol)).as("__dc"))
    a.join(b, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__dp").isNull, "added")
          .when(col("__dc").isNull, "removed")
          .when(col("__dp") === col("__dc"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** WEIGHTED sampling WITHOUT replacement, deterministic (the
    * Efraimidis-Spirakis A-Res scheme): each doc draws a stable
    * md5-uniform u ∈ [0,1) from (salt, id) — the [[hashSplit]]
    * portability story — and competes with the key u^(1/w); the top-k
    * keys per group win. Higher weight → larger key in expectation,
    * so inclusion probability is proportional to weight, exactly the
    * quality-weighted subcorpus draw a curation pass wants
    * ("sample 20 docs per source, longer docs more likely").
    *
    * 100 TB shape: one window rank per group (same plan as
    * quotaSample's exact pick); the key is per-doc arithmetic in the
    * scan. Determinism across engines: the key rounds to 12 dp BEFORE
    * the rank — two docs with different (u, w) can land within one
    * ulp of each other, where Java Math.pow vs another libm could
    * order them differently; after rounding, near-coincident keys
    * become exact ties and resolve through the id tie-break
    * identically on both engines (libm divergence <= 1e-13 only flips
    * a rounding boundary with probability ~ulp/1e-12). */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int,
                     groupCol: String = "source",
                     idCol: String = "doc_id",
                     salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val u = uniformOf(col(idCol), salt)
    val key = round(pow(u, lit(1.0) / col(weightCol).cast("double")), 12)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(key.desc, col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
  }

  /** PII patterns, applied in declaration order. Kept to syntax that
    * means the same thing in Java regex and RE2-family engines (no
    * lookaround, no backrefs) so an external validator reproduces the
    * redaction bit-for-bit. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** PII REDACTION: replace each pattern with its `[TYPE]` token and
    * count per-type hits (counted on the ORIGINAL text, so one
    * pattern's replacement can't hide another's count). One codegen'd
    * projection — at 100 TB this is scan-speed. */
  def redact(docs: DataFrame, textCol: String = "text",
             idCol: String = "doc_id"): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (name, p)) =>
        regexp_replace(c, p, s"[${name.toUpperCase}]")
    }
    val counts = PiiPatterns.map { case (name, p) =>
      regexp_count(col(textCol), lit(p)).as(s"n_$name")
    }
    // computeParallel — the per-row regex chain otherwise runs on ONE
    // scan split of a compute-dense corpus (same single-split rationale
    // as [[graft.pipeline.TextAnalysis.quality]])
    Similarity.computeParallel(docs)
      .select(col(idCol) +: redacted.as("redacted") +: counts: _*)
  }

  /** Payment-card candidate pattern: 4-4-4-4 groups (space or dash)
    * or a bare 13-16 digit run. Same subset discipline as
    * [[PiiPatterns]] — means the same thing in Java and RE2. */
  val CardPattern: String =
    "\\b(?:\\d{4}[ -]){3}\\d{4}\\b|\\b\\d{13,16}\\b"

  /** Luhn checksum over a digit-string Column, as pure expressions:
    * indexing from the RIGHT (q=1 is the check digit), every
    * even-q digit doubles and folds its digit sum; valid iff the
    * total ≡ 0 (mod 10). One aggregate over a per-candidate digit
    * sequence — stays inside codegen. */
  def luhnOk(d: Column): Column = {
    val n = length(d)
    val s = aggregate(sequence(lit(1), n), lit(0), (acc, q) => {
      val dig = d.substr(n - q + 1, lit(1)).cast("int")
      val dd = when(q % 2 === 0, dig * 2).otherwise(dig)
      acc + when(dd > 9, dd - 9).otherwise(dd)
    })
    s % 10 === 0
  }

  /** CHECKSUM-GATED card redaction — the false-positive-aware PII
    * pass: a bare 16-digit pattern alone redacts order ids, EANs and
    * hashes-in-prose, so real pipelines gate the match on the Luhn
    * checksum (what makes a digit run a plausible card number) and
    * redact ONLY validated candidates. Per doc: candidate count,
    * Luhn-valid count, and the text with each valid candidate (its
    * original spelling, separators included) replaced by `[CARD]`.
    * Everything is in-row expression work — extract-all, a per-
    * candidate Luhn aggregate, a replace fold — no UDF, no shuffle. */
  def redactCards(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit(CardPattern), lit(0))
    def stripped(c: Column) = regexp_replace(c, "[ -]", "")
    val valids = filter(cands, c => luhnOk(stripped(c)))
    docs.select(col(idCol),
      size(cands).as("n_candidates"),
      size(valids).as("n_valid"),
      aggregate(valids, col(textCol),
        (t, c) => replace(t, c, lit("[CARD]"))).as("redacted"))
  }

  /** SEQUENCE PACKING: assign documents to context-window bins of at
    * most `budget` tokens using the greedy first-fit-in-order rule —
    * scan docs in id order per key, close the bin when the next doc
    * would overflow it (a doc larger than the budget gets a bin of its
    * own). The shape every LLM pretraining loader needs to batch
    * efficiently.
    *
    * Greedy packing is ORDER-DEPENDENT with a reset, so it has no
    * relational/window formulation (a running sum can't reset on
    * overflow) — this is the one genuinely sequential-per-group
    * operator in the pipeline, hence `flatMapGroups` (the brief's
    * last-resort tier, used for the reason the tier exists). The
    * group is the parallel unit: packing runs per (key, shard)
    * concurrently, sequentially within. `shards` bounds group size at
    * 100 TB — each doc lands in a deterministic md5 shard of its key
    * (same portable arithmetic as [[hashSplit]]: stable under corpus
    * growth, engine-independent), each shard packs its own id-ordered
    * stream, and bins are numbered per (key, shard). `shards = 1`
    * (the default) is the single-stream semantics; a whole-corpus
    * global pack would serialize. */
  /** Fixed-window token CHUNKING with stride — the long-document →
    * context-window shaper (packSequences' complement: packing bins
    * small docs up, chunking cuts long docs down). Start positions
    * 0, stride, 2·stride … < n_tokens; each chunk takes up to `window`
    * tokens (`stride` < `window` ⇒ overlapping chunks). Pure per-doc
    * expression + one explode: no shuffle, and the explode's fan-out
    * is bounded by ceil(doc_tokens/stride) — corpus-size-independent.
    * Empty docs yield no chunks. */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride > 0")
    // tokens materialize before the chunk lambda (shinglesOf caller
    // contract — inline would re-tokenize once per chunk start)
    val ts = col("__ts")
    val chunks = when(size(ts) > 0,
      transform(sequence(lit(0), size(ts) - 1, lit(stride)),
        st => struct(
          array_join(slice(ts, st + 1, lit(window)), " ").as("chunk_text"),
          size(slice(ts, st + 1, lit(window))).as("chunk_tokens"))))
      .otherwise(array().cast(
        "array<struct<chunk_text:string,chunk_tokens:int>>"))
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk_tokens").as("chunk_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  def packSequences(docs: DataFrame, keyCol: String, budget: Int,
                    textCol: String = "text",
                    idCol: String = "doc_id",
                    shards: Int = 1): DataFrame = {
    require(shards >= 1, s"shards >= 1: $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    // deterministic md5 shard-of-key: first two hex chars → 0..255,
    // folded into `shards` buckets (uniform when shards divides 256,
    // near-uniform otherwise — it's a size bound, not a sampler)
    val h = md5(concat(lit("pack:"), col(idCol).cast("string")))
    val shard =
      if (shards == 1) lit(0)
      else pmod(hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1)),
        lit(shards))
    docs.select(col(keyCol).cast("string").as("key"),
        shard.cast("int").as("shard"),
        col(idCol).as("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).as("n_tokens"))
      .as[(String, Int, Long, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Long, Int)]) =>
        val (k, sh) = key
        val inOrder = it.toSeq.sortBy(_._3)
        var bin = 0L
        var fill = -1L // sentinel: first doc opens bin 0 whatever its size
        inOrder.map { case (_, _, id, n) =>
          if (fill < 0) fill = n.toLong
          else if (fill + n > budget) { bin += 1; fill = n.toLong }
          else fill += n
          (k, id, n, bin, sh)
        }
      }
      .toDF("key", "doc_id", "n_tokens", "bin", "shard")
  }

  /** Per-source CORPUS REPORT — the curation-dashboard numbers every
    * training-data run starts and ends with: doc count, token mass,
    * char mass, exact-duplicate rate (1 − distinct digests / docs).
    * One scan + one groupBy on the key; count/sum partial-aggregate
    * map-side. The distinct-digest count is exact (it's the oracle-
    * checkable semantics); at 100 TB swap in
    * `approx_count_distinct` if a ±2% dup-rate is acceptable —
    * everything else in the plan is unchanged. */
  def corpusReport(docs: DataFrame, keyCol: String = "source",
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col(textCol)))).as("n_tokens"),
        sum(length(col(textCol))).as("n_chars"),
        countDistinct(md5(col(textCol))).as("n_unique"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))

  /** Cap probe for an explicit broadcast hint: never counts more than
    * cap+1 rows. Caps at or above Int.MaxValue are a misuse (`limit`
    * takes an Int, and a >2G-entry broadcast is never sane) — fail
    * loud instead of silently clamping the probe so everything
    * "fits". */
  private[pipeline] def fitsBroadcast(df: DataFrame, cap: Long): Boolean = {
    require(cap > 0 && cap < Int.MaxValue,
      s"broadcast cap must be in (0, Int.MaxValue): $cap")
    df.limit((cap + 1).toInt).count() <= cap
  }

  /** Per-doc word `n`-gram stream, DISTINCT within each doc (shinglesOf
    * array_distincts). Two-step projection: tokens materialize before
    * the gram lambda (the shinglesOf caller contract — inline would
    * re-tokenize the doc once per gram). Shared by [[contaminated]]
    * and [[contaminationFraction]]. */
  private def gramsOf(df: DataFrame, n: Int, textCol: String,
                      idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        explode(TextAnalysis.shinglesOf(col("__ts"), n)).as("g"))

  /** The benchmark side's distinct gram SET — text column only (an
    * eval slice needs no doc ids). */
  private def benchGrams(bench: DataFrame, n: Int,
                         textCol: String): DataFrame =
    bench.select(TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(explode(TextAnalysis.shinglesOf(col("__ts"), n)).as("g"))
      .distinct()

  /** Benchmark DECONTAMINATION: flag every document sharing at least
    * one word `n`-gram with a benchmark/eval text set — the standard
    * leakage guard before training. The benchmark gram set is tiny
    * relative to the corpus (eval suites, not corpora), so the join is
    * a broadcast semi-join against the exploded corpus gram index: the
    * corpus streams once, nothing shuffles.
    *
    * Returns the distinct flagged doc ids; the clean set is
    * `docs.join(contaminated, "doc_id", "left_anti")`. */
  def contaminated(docs: DataFrame, bench: DataFrame, n: Int,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val grams = gramsOf(docs, n, textCol, idCol)
    val bg = benchGrams(bench, n, textCol)
    grams.join(broadcast(bg), Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Contamination FRACTION — the graded refinement of
    * [[contaminated]]'s boolean (the GPT-3 / PaLM appendix
    * contamination metric): per doc, the fraction of its DISTINCT word
    * `n`-grams that appear anywhere in the benchmark slice. Docs with
    * fewer than `n` tokens have no grams and report 0.0 (the metric
    * cannot see them). Same 100 TB shape as [[contaminated]]: the
    * benchmark gram set broadcasts, the corpus gram stream is scanned
    * once, and the per-doc agg is map-side combined; the left join
    * back to `docs` only restores gram-less rows. */
  def contaminationFraction(docs: DataFrame, bench: DataFrame, n: Int,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    // gramsOf is already per-doc distinct (shinglesOf array_distincts)
    // — no corpus-wide distinct shuffle before the broadcast join
    val grams = gramsOf(docs, n, textCol, idCol)
    val bg = benchGrams(bench, n, textCol).withColumn("__hit", lit(1))
    val perDoc = grams.join(broadcast(bg), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
        count(lit(1)), 6).as("contamination"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contamination"), lit(0.0)).as("contamination"))
  }

  /** CURRICULUM shard assignment — rank the corpus by a score and deal
    * docs ROUND-ROBIN into `shards`: every shard gets a stratified
    * sample of the full score range, and within a shard docs come out
    * in score order (the curriculum-learning data-ordering step;
    * contrast ntile, which gives contiguous score BANDS).
    *
    * The global rank is computed WITHOUT a single-partition window —
    * the 100 TB shape: repartitionByRange on (score desc, id) sorts
    * the corpus across partitions, a partition-count collect (one row
    * per partition — bounded, documented) turns per-partition
    * row_numbers into global ranks via prefix offsets. The tie-break
    * id inside the range key makes boundaries deterministic. */
  def curriculumShards(docs: DataFrame, scoreCol: String, shards: Int,
                       idCol: String = "doc_id",
                       eager: Boolean = true): DataFrame = {
    require(shards > 0, "curriculumShards needs shards > 0")
    val spark = docs.sparkSession
    // registered: with eager=false it outlives this call
    val ranged = Caches.persist(docs.select(col(idCol), col(scoreCol))
      .repartitionByRange(col(scoreCol).desc, col(idCol).asc)
      .withColumn("__pid", spark_partition_id()))
    try {
      // bounded collect: one (partition, count) row per partition
      val counts = ranged.groupBy("__pid").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      // prefix-sum offsets; shipped as a tiny broadcast-joined frame —
      // a per-row when-chain would be O(partitions) deep per row and
      // blow codegen limits at production partition counts
      val offsets = counts.map(_._1)
        .zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
      val offDf = spark.createDataFrame(offsets.toSeq)
        .toDF("__pid", "__off")
      val w = Window.partitionBy("__pid")
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      val out = ranged.join(broadcast(offDf), Seq("__pid"))
        .withColumn("rank", col("__off") + row_number().over(w))
        .withColumn("shard", ((col("rank") - 1) % shards).cast("int"))
        .select(col(idCol), col(scoreCol), col("rank"), col("shard"))
      // eager: localCheckpoint BEFORE releasing the persisted range
      // shuffle — the offsets snapshot is only valid against the
      // partitioning it was collected from, so letting a later action
      // recompute the range shuffle (AQE re-plan, nondeterministic
      // upstream) could pair offsets with different partition counts
      // and silently corrupt ranks. localCheckpoint is executor-LOCAL
      // (lost executors lose blocks, no recompute path); a long-lived
      // cluster deployment swaps in a reliable checkpoint or a table
      // write at the same point.
      // eager=false (plan inspection, callers managing their own
      // materialization): the persist stays ALIVE to keep the offsets
      // valid until the end-of-query release.
      if (eager) {
        val pinned = Caches.localCheckpoint(out)
        Caches.release(ranged)
        pinned
      } else out
    } catch {
      case e: Throwable => Caches.release(ranged); throw e
    }
  }

  /** Per-key token-length QUANTILES — the length-distribution report
    * batch-shape planning reads (context-window fill, padding waste,
    * truncation rates all key off it). Exact interpolated percentiles
    * by default (each group sorts its values — report-cardinality
    * groups; the oracle needs the exact definition); at 100 TB pass
    * `exact = false` for t-digest `approx_percentile`, same plan
    * shape otherwise. Returns (key, n_docs, p50, p90, p99, ...). */
  def lengthQuantiles(docs: DataFrame, keyCol: String = "source",
                      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                      exact: Boolean = true,
                      textCol: String = "text"): DataFrame = {
    val n = size(TextAnalysis.tokens(col(textCol)))
    val base = docs.select(col(keyCol), n.as("n_tokens"))
    val aggs = count(lit(1)).as("n_docs") +: qs.map { q =>
      val p =
        if (exact) percentile(col("n_tokens"), lit(q))
        else percentile_approx(col("n_tokens"), lit(q), lit(10000))
      round(p, 6).as(s"p${math.round(q * 100)}")
    }
    base.groupBy(keyCol).agg(aggs.head, aggs.tail: _*).orderBy(keyCol)
  }

  /** LM-score QUALITY PRUNING — the CCNet-style perplexity gate
    * composed end-to-end: score every document under the corpus
    * unigram LM ([[TextAnalysis.lmScore]]), compute each key's
    * `dropFrac` score quantile, and keep documents at or above their
    * key's threshold (per-source thresholds, so one clean source
    * can't crowd out another — the same reason CCNet buckets per
    * language). Thresholds are exact interpolated percentiles rounded
    * to the 6-decimal grid (the oracle recomputes them); at 100 TB
    * swap `percentile` for `approx_percentile`, same plan. Returns
    * the surviving (doc_id, key, lm_logp). */
  def qualityPrune(docs: DataFrame, keyCol: String = "source",
                   dropFrac: Double = 0.1,
                   textCol: String = "text"): DataFrame = {
    val scored = TextAnalysis.lmScore(docs, textCol)
      .join(docs.select(col("doc_id"), col(keyCol)), "doc_id")
    val thresholds = scored.groupBy(keyCol)
      .agg(round(percentile(col("lm_logp"), lit(dropFrac)), 6)
        .as("__thresh"))
    scored.join(thresholds, Seq(keyCol))
      .where(col("lm_logp") >= col("__thresh"))
      .select(col("doc_id"), col(keyCol), col("lm_logp"))
  }

  /** CCNet PERPLEXITY STRATIFICATION (Wenzek et al. 2020): label every
    * document head/middle/tail by its per-source LM-score tertiles —
    * head = the best-scoring third under the corpus's own unigram LM
    * (lowest perplexity), the slice CCNet keeps for LM training;
    * thresholds are per source so one source's scale never floods
    * another's buckets. Same machinery as [[qualityPrune]] (one score
    * pass, one per-key percentile agg, threshold join), but the
    * output LABELS rows instead of dropping them — the downstream
    * mixer decides what each bucket is worth. Tertile thresholds ride
    * the 6-decimal grid like every cross-engine float here. */
  def perplexityBuckets(docs: DataFrame, keyCol: String = "source",
                        textCol: String = "text"): DataFrame = {
    val scored = TextAnalysis.lmScore(docs, textCol)
      .join(docs.select(col("doc_id"), col(keyCol)), "doc_id")
    val thresholds = scored.groupBy(keyCol).agg(
      round(percentile(col("lm_logp"), lit(1.0 / 3)), 6).as("__t1"),
      round(percentile(col("lm_logp"), lit(2.0 / 3)), 6).as("__t2"))
    scored.join(thresholds, Seq(keyCol))
      .select(col("doc_id"), col(keyCol), col("lm_logp"),
        when(col("lm_logp") >= col("__t2"), "head")
          .when(col("lm_logp") >= col("__t1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** C4-style LINE-LEVEL cleaning (Raffel et al. 2020 §2.2): per
    * line, keep it only if it has at least `minWords` words, carries
    * none of the `blacklist` phrases, has no curly brace, and (when
    * `requirePunct`) ends in a terminal punctuation mark; the page
    * survives when at least `minLines` lines remain. The web-corpus
    * boilerplate scrubber — nav bars, cookie banners, code fragments
    * and enumeration stubs go; prose stays.
    *
    * 100 TB shape: one pure array-expression projection over the scan
    * (split → filter lambdas → array_join), whole-stage codegen'd, no
    * shuffle, no UDF. Returns (doc_id, n_lines, n_kept, page_keep,
    * clean_text). */
  def cleanLines(docs: DataFrame, minWords: Int = 3,
                 blacklist: Seq[String] =
                   Seq("javascript", "lorem ipsum", "cookie"),
                 requirePunct: Boolean = true, minLines: Int = 1,
                 textCol: String = "text"): DataFrame = {
    def keepLine(l: Column): Column = {
      val words = size(filter(split(l, "\\s+"), w => w =!= ""))
      val base = words >= minWords &&
        blacklist.map(b => !lower(l).contains(b)).reduce(_ && _) &&
        !l.contains("{")
      if (requirePunct) base && l.rlike("[.!?\"']\\s*$") else base
    }
    // lines/kept materialize once per row; the final select references
    // them several times, which inline would re-split per reference
    val lines = col("__lines"); val kept = col("__kept")
    docs
      .select(col("doc_id"),
        filter(split(col(textCol), "\n"), l => l =!= "").as("__lines"))
      .select(col("doc_id"), col("__lines"),
        filter(col("__lines"), keepLine(_)).as("__kept"))
      .select(col("doc_id"), size(lines).as("n_lines"),
        size(kept).as("n_kept"),
        (size(kept) >= minLines).as("page_keep"),
        array_join(kept, "\n").as("clean_text"))
  }

  /** TEXT NORMALIZATION — the stage every web-corpus pipeline (C4,
    * CCNet, RefinedWeb) runs BEFORE line filters and dedup, because
    * markup noise poisons both (a `<p>` tag splits a shingle, an
    * `&nbsp;` breaks exact-hash dedup of visually identical text):
    *   1. strip HTML/XML tags (`<...>` → one space — tags are
    *      word boundaries, never joins: "word<br>word" is two words),
    *      comments included;
    *   2. decode the frequent entities (amp/lt/gt/quot/#39/apos/nbsp)
    *      — `&amp;` LAST so `&amp;lt;` decodes to the literal "&lt;",
    *      not to "<" (double-decode bug);
    *   3. fold line endings (CRLF and lone CR → LF) so the line
    *      rules below see ONE newline convention — a CRLF doc and its
    *      LF twin must normalize identically or exact-dedup misses
    *      them — then drop the remaining control characters (C0 minus
    *      tab/newline);
    *   4. collapse runs of spaces/tabs to one space, trim line edges,
    *      collapse 3+ newlines to a paragraph break.
    * Everything is a codegen'd regexp_replace chain over the scan —
    * no UDF, no shuffle; the regex subset means the same thing in
    * Java and RE2-family engines (no lookaround, no backrefs), so an
    * external validator reproduces the output bit-for-bit. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    var t: Column = col(textCol)
    t = regexp_replace(t, "<[^>]*>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
        "&amp;" -> "&").foreach { case (e, r) =>
      t = regexp_replace(t, java.util.regex.Pattern.quote(e),
        java.util.regex.Matcher.quoteReplacement(r))
    }
    t = regexp_replace(t, "\\r\\n?", "\n")
    t = regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    t = regexp_replace(t, "[ \\t]+", " ")
    t = regexp_replace(t, " ?\\n ?", "\n")
    t = regexp_replace(t, "\\n{3,}", "\n\n")
    // whitespace-trim BOTH kinds (trim() is space-only): leading and
    // trailing newline runs from stripped leading markup must go too
    // computeParallel — same single-split rationale as [[redact]]
    Similarity.computeParallel(docs)
      .withColumn("norm_text", regexp_replace(t, "^\\s+|\\s+$", ""))
  }

  /** Registrable host from a URL — scheme and `www.` stripped,
    * lowercased, port/path/query dropped. Pure regexp projection. */
  def domainOf(url: Column): Column =
    lower(regexp_replace(
      regexp_extract(url, "^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/:?#]+)", 1),
      "^www\\.", ""))

  /** A host is blocked iff it equals a blocklist entry or sits under
    * one ("ads.tracker.net" is blocked by "tracker.net"). For the
    * literal-list case (curated blocklists are small) this compiles to
    * a codegen'd OR-chain over the scan — no join, no shuffle. */
  def domainBlocked(domain: Column, blocklist: Seq[String]): Column =
    blocklist.map(b => lower(lit(b)))
      .map(b => domain === b || domain.endsWith(concat(lit("."), b)))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** URL/domain BLOCKLIST FILTERING (the C4-style source gate): tag
    * every document with its registrable domain and whether that
    * domain falls under any blocklist entry.
    *
    * Scale path for a blocklist too big to inline (host-reputation
    * feeds run to millions of rows): explode each host into its
    * parent-suffix chain (bounded by its label count, ~4) and
    * LEFT SEMI broadcast-join the suffixes against the blocklist —
    * the corpus streams once, nothing shuffles; see
    * [[urlFilterJoin]]. Returns docs + (domain, blocked). */
  def urlFilter(docs: DataFrame, blocklist: Seq[String],
                urlCol: String = "url"): DataFrame = {
    val d = domainOf(col(urlCol))
    docs.withColumn("domain", d)
      .withColumn("blocked", domainBlocked(col("domain"), blocklist))
  }

  /** [[urlFilter]] against a blocklist DATAFRAME (column `domain`) —
    * the million-entry-feed shape. The BLOCKLIST is the broadcast
    * (feed-sized, bounded); each doc's suffix chain (bounded by its
    * label count, ~4) probes it through a LEFT SEMI, and the hit set
    * rides back on the doc key as a plain equi-join AQE can broadcast
    * or sort-merge on its own — nothing corpus-derived is ever
    * assumed broadcastable. Costs two scans of `docs` (hit
    * derivation + enrichment), the standard semi-join-enrichment
    * shape.
    *
    * The broadcast hint is GUARDED: feeds are open-ended, and a
    * 100M-entry list would OOM the driver if hinted unconditionally.
    * A Merger-style cap probe (`limit(cap+1).count()` — never counts
    * more than cap+1 rows) decides; over the cap the blocklist
    * becomes the build side of a plain shuffle semi-join instead,
    * same result. Default cap 2M entries ≈ tens of MB broadcast. */
  def urlFilterJoin(docs: DataFrame, blocklist: DataFrame,
                    urlCol: String = "url",
                    idCol: String = "doc_id",
                    maxBroadcastEntries: Long = 2000000L): DataFrame = {
    val labels = col("__labels")
    val suffixes = transform(sequence(lit(0), size(labels) - 1),
      i => array_join(slice(labels, i + 1, size(labels)), "."))
    val tagged = docs.withColumn("domain", domainOf(col(urlCol)))
    val bl = blocklist.select(lower(col("domain")).as("__sfx")).distinct()
    // probe the RAW feed (pre-distinct: conservative — may shuffle a
    // list whose distinct set would have fit, never the reverse)
    val fits = fitsBroadcast(blocklist, maxBroadcastEntries)
    val hitIds = tagged
      .select(col(idCol), split(col("domain"), "\\.").as("__labels"))
      .select(col(idCol), explode(suffixes).as("__sfx"))
      .join(if (fits) broadcast(bl) else bl, Seq("__sfx"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("blocked", lit(true))
    tagged.join(hitIds, Seq(idCol), "left")
      .withColumn("blocked", coalesce(col("blocked"), lit(false)))
  }
}
