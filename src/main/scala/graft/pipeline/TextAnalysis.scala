package graft.pipeline

import graft.ops.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID, fingerprinting.
  *
  * All pure `Column` expressions (whole-stage codegen; no UDFs): at
  * 100 TB these run as a single projection over the scan with nothing
  * to shuffle.
  */
object TextAnalysis {

  /** Lowercase alnum tokens, empties dropped — the shared tokenizer
    * (same contract as the Contains-filter analyzer). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Word-level n-gram shingles as strings (n ≥ 1).
    *
    * CALLER CONTRACT: pass a MATERIALIZED token-array column (a
    * projection output), not `tokens(text)` inline — Catalyst inlines
    * the argument expression into the per-element slice lambda, so an
    * inline tokenizer would re-tokenize the document once per gram
    * (O(L²) per doc; measured 13× on the bigram LM query). */
  def shinglesOf(ts: Column, n: Int): Column =
    if (n == 1) array_distinct(ts)
    else when(size(ts) >= n, array_distinct(
        transform(sequence(lit(0), size(ts) - n),
          i => array_join(slice(ts, i + lit(1), lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Convenience form over raw text — only for single-reference
    * expression contexts (see [[shinglesOf]]'s caller contract). */
  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** Token/char counts + BPE-ish subword estimate (≈ chars/4 like the
    * common BPE rule of thumb, plus one per word boundary). */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // ts materialized once per row (three references below)
    val ts = col("__ts")
    docs.select(col("doc_id"), col(textCol),
        tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        size(ts).as("n_tokens"),
        length(col(textCol)).as("n_chars"),
        size(array_distinct(ts)).as("n_distinct_tokens"),
        floor(length(regexp_replace(col(textCol), "\\s+", "")) / lit(4) +
          size(ts)).as("bpe_token_estimate"))
  }

  private val StopwordsEn =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Quality signals: length, stopword ratio, punctuation ratio, mean
    * word length, repetition (1 - distinct/total). Ratios are plain
    * int/int divisions so they are bit-identical across engines. */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // ts materialized once per row (five references below)
    val ts = col("__ts")
    val nTok = size(ts).cast("double")
    val stopArr = array(StopwordsEn.map(lit): _*)
    // computeParallel: compute-dense corpora pack small on disk, so the
    // per-row tokenize/regex projection otherwise runs on ONE scan
    // split (measured: the whole text family serialized at sf0.1);
    // no-op when the plan already shuffles or the scan has enough splits
    Similarity.computeParallel(docs).select(col("doc_id"), col(textCol),
        tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        size(ts).as("n_tokens"),
        (size(filter(ts, t => array_contains(stopArr, t))).cast("double") /
          nTok).as("stopword_ratio"),
        (length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", "")) * lit(1.0) /
          length(col(textCol))).as("punct_ratio"),
        ((length(regexp_replace(col(textCol), "\\s+", "")) * lit(1.0)) / nTok)
          .as("mean_word_len"),
        (lit(1.0) - size(array_distinct(ts)).cast("double") / nTok)
          .as("repetition"))
  }

  /** GOPHER QUALITY RULES (Rae et al. 2021, appendix A1.1 — the
    * published heuristic gate most later pipelines reuse): one boolean
    * per rule plus the composed keep flag, so a curation run can both
    * filter and report per-rule kill counts. Rules, with thresholds
    * adapted to this corpus's scale where the paper's are web-page
    * sized:
    *   - rule_len:      token count in [minTokens, maxTokens]
    *   - rule_word_len: mean word length in [3, 10]
    *   - rule_symbol:   symbol-to-char ratio ≤ 0.1 (the paper counts
    *                    #/… per word; collapsed to the non-alnum ratio
    *                    the quality() signal already exposes)
    *   - rule_stop:     ≥ 2 DISTINCT stop words from the shared
    *                    10-word list (the paper requires 2 of a 8-word
    *                    list)
    *   - rule_rep:      distinct/total token ratio ≥ 0.3 (the paper's
    *                    duplicate-line-fraction family collapsed to
    *                    the token-level repetition signal)
    *
    * 100 TB shape: a pure per-doc projection over one scan — nothing
    * shuffles; the keep flag anti-joins nothing (unlike the cluster
    * gates) so it composes as a plain filter stage. All arithmetic is
    * int/int divisions in IEEE doubles, bit-identical across engines
    * (same contract as [[quality]]). */
  def gopherGate(docs: DataFrame, minTokens: Int = 30,
                 maxTokens: Int = 100000,
                 textCol: String = "text"): DataFrame = {
    val ts = col("__ts")
    val nTok = size(ts)
    val nTokD = nTok.cast("double")
    val stopArr = array(StopwordsEn.map(lit): _*)
    val meanWordLen =
      length(regexp_replace(col(textCol), "\\s+", "")) * lit(1.0) / nTokD
    val symbolRatio =
      length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", "")) * lit(1.0) /
        length(col(textCol))
    // computeParallel — same single-split rationale as [[quality]]
    Similarity.computeParallel(docs)
      .select(col("doc_id"), col(textCol), tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        (nTok >= minTokens && nTok <= maxTokens).as("rule_len"),
        // zero guards: a doc with no tokens (punctuation/CJK-only) or
        // empty text must yield deterministic FALSE ratio rules on both
        // engines, not Spark NaN-compare vs DuckDB NULL-propagation
        (nTok > 0 && meanWordLen >= 3.0 && meanWordLen <= 10.0)
          .as("rule_word_len"),
        (length(col(textCol)) > 0 && symbolRatio <= 0.1).as("rule_symbol"),
        (size(array_distinct(filter(ts, t => array_contains(stopArr, t))))
          >= 2).as("rule_stop"),
        (nTok > 0 && size(array_distinct(ts)).cast("double") / nTokD >= 0.3)
          .as("rule_rep"))
      .withColumn("keep", col("rule_len") && col("rule_word_len") &&
        col("rule_symbol") && col("rule_stop") && col("rule_rep"))
  }

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est"))

  /** Language-ID: score = matching-stopword count per language; argmax
    * with alphabetical tie-break; 'und' (undetermined) when no profile
    * matches at all. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ts = tokens(col(textCol))
    // computeParallel — same single-split rationale as [[quality]]
    val scored = LangProfiles.foldLeft(
      Similarity.computeParallel(docs).select(col("doc_id"), ts.as("ts"))) {
      case (df, (lang, words)) =>
        val arr = array(words.map(lit): _*)
        df.withColumn(s"score_$lang",
          size(filter(col("ts"), t => array_contains(arr, t))))
    }
    val best = LangProfiles.map { case (l, _) => col(s"score_$l") }
      .reduce((a, b) => greatest(a, b))
    val guess = LangProfiles.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === col("best") && col("best") > 0, lit(l))
        .otherwise(acc)
    }
    scored.withColumn("best", best)
      .withColumn("lang_guess", guess)
      .select("doc_id", "lang_guess")
  }

  /** SENTENCE SEGMENTATION — the boundary pass under per-sentence
    * dedup, citation alignment and sentence-bounded chunking: a
    * sentence is a maximal run of non-terminator characters plus its
    * trailing terminator run ([.!?]+), extracted with ONE
    * regexp_extract_all (no lookbehind — the pattern must mean the
    * same thing in Java regex and RE2, and RE2 has no lookaround),
    * then trimmed, with empty/whitespace-only fragments dropped.
    * Returns one row per (doc, sent_idx, sentence) via posexplode —
    * a pure in-row projection before the explode, no shuffle. */
  def sentences(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val raw = regexp_extract_all(col(textCol),
      lit("[^.!?]+[.!?]*"), lit(0))
    val cleaned = filter(transform(raw, s => trim(s)), s => s =!= "")
    docs.select(col("doc_id"), posexplode(cleaned).as(Seq("sent_idx", "sentence")))
  }

  /** SCRIPT (writing-system) detection — the cheap upstream router a
    * multilingual pipeline runs BEFORE language-id (the stop-word
    * profile above only separates languages WITHIN the Latin script;
    * the analyzer registry keys on script first: Cyrillic → the
    * Russian chain, Han/Kana → Cjk, Latin → per-language). Counts
    * characters per script class with pure `length(regexp_replace)`
    * arithmetic — one codegen'd projection over the scan, no shuffle,
    * no UDF; the classes are Unicode script properties, which mean the
    * same thing in Java regex and RE2-family engines, so an external
    * validator reproduces the counts exactly. `dominant` is the argmax
    * with a fixed tie-break order (declaration order below), `und`
    * when no class scores. */
  def scriptProfile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // (name, Java regex class, one char of the class for doc)
    val classes = Seq(
      "latin" -> "[a-zA-Z]",
      "cyrillic" -> "[\\p{IsCyrillic}]",
      "han" -> "[\\p{IsHan}]",
      "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]",
      "hangul" -> "[\\p{IsHangul}]",
      "digit" -> "[0-9]")
    val t = col(textCol)
    // computeParallel — same single-split rationale as [[quality]]
    val counted = classes.foldLeft(
      Similarity.computeParallel(docs).select(col("doc_id"), t.as("__t"))) {
      case (df, (name, cls)) =>
        df.withColumn(s"n_$name",
          length(col("__t")) - length(regexp_replace(col("__t"), cls, "")))
    }
    // dominant over the LETTER scripts only (digits are script-neutral)
    val letters = classes.map(_._1).filterNot(_ == "digit")
    val best = letters.map(n => col(s"n_$n")).reduce(greatest(_, _))
    val dominant = letters.foldRight(lit("und")) { case (n, acc) =>
      when(col(s"n_$n") === col("__best") && col("__best") > 0, lit(n))
        .otherwise(acc)
    }
    counted.withColumn("__best", best)
      .withColumn("dominant", dominant)
      .select(Seq(col("doc_id")) ++
        classes.map { case (n, _) => col(s"n_$n") } :+ col("dominant"): _*)
  }

  /** Rolling-hash (Karp-Rabin-style) document fingerprint over the
    * token stream: acc = (acc*1000003 + (ascii(t)*131 + len(t))) mod
    * 2^31-1. The per-token hash is deliberately portable (plain
    * arithmetic) so an external verifier can recompute it. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val hs = transform(tokens(col(textCol)),
      t => (ascii(t) * lit(131L) + length(t)).cast("long"))
    docs.select(col("doc_id"),
      aggregate(hs, lit(0L),
        (acc, h) => (acc * lit(1000003L) + h) % lit(2147483647L))
        .as("fingerprint"))
  }

  /** Word n-grams as strings, duplicates KEPT (repetition accounting
    * needs occurrence counts; [[shingles]] is the distinct variant). */
  private def gramsAll(ts: Column, n: Int): Column =
    when(size(ts) >= n,
      transform(sequence(lit(0), size(ts) - n),
        i => array_join(slice(ts, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1 quality
    * heuristics): duplicate-line fraction and duplicate-line character
    * fraction over `\n`-separated lines, top word-n-gram character
    * fraction (n = 2, 3, 4), and the duplicated-2-gram mass fraction.
    *
    * Definitions, chosen to be bit-portable across engines:
    *  - lines: `\n`-split, empties dropped; a line OCCURRENCE counts as
    *    duplicated when its line text appears more than once in the doc.
    *  - top_Ngram_frac = occurrences × word-chars of the most frequent
    *    n-gram (tie: lexicographically smallest) / total word chars.
    *  - dup_2gram_frac = char mass of 2-grams occurring > once / total
    *    2-gram char mass (word chars only — joiner spaces excluded).
    *
    * One projection over the scan (no UDFs, no shuffle): at 100 TB
    * this is scan-bound. Per document the cost is O(G log G) — five
    * native [[graft.functions.GramRunStats]] passes (build grams →
    * sort → one run scan each), bounded by doc length, independent of
    * corpus size. */
  def repetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.GramRunStats
    // every signal is arithmetic over FIVE native run-stat structs
    // (lines, tokens, 2/3/4-grams), each one generated-loop pass per
    // document ([[GramRunStats]]) — no interpreted lambdas, no
    // intermediate gram arrays; was 6.6 s at sf0.1 as Column folds,
    // 1.3 s native
    // computeParallel — same single-split rationale as [[quality]]:
    // the five gram passes ran on ONE task at sf0.1 (measured 1.45 s
    // steady, 0.75 s spread)
    val pre = Similarity.computeParallel(docs)
      .select(col("doc_id"),
        filter(split(col(textCol), "\n"), l => l =!= "").as("__lines"),
        tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        GramRunStats.of(col("__lines"), 1).as("__l"),
        GramRunStats.of(col("__ts"), 1).as("__t1"),
        GramRunStats.of(col("__ts"), 2).as("__g2"),
        GramRunStats.of(col("__ts"), 3).as("__g3"),
        GramRunStats.of(col("__ts"), 4).as("__g4"))
    val l = col("__l")
    val nLines = l.getField("n")
    val wchars = col("__t1").getField("mass").cast("double")
    // top n-gram char mass: occurrences × word-chars (the joiner
    // spaces — n−1 per gram — come off the stored gram length)
    def topFrac(n: Int): Column = {
      val g = col(s"__g$n")
      val m = g.getField("max_run") *
        (length(g.getField("max_elem")) - lit(n - 1))
      when(wchars > 0, m.cast("double") / wchars).otherwise(lit(0.0))
    }
    // 2-gram char mass excludes joiners: Σ run·(len−1) = dup_mass −
    // dup_count (resp. mass − n over all grams)
    val g2 = col("__g2")
    val tot2 = g2.getField("mass") - g2.getField("n")
    val dup2 = g2.getField("dup_mass") - g2.getField("dup_count")
    pre.select(col("doc_id"),
      nLines.as("n_lines"),
      when(nLines > 0, lit(1.0) -
        l.getField("n_runs").cast("double") / nLines)
        .otherwise(lit(0.0)).as("dup_line_frac"),
      when(l.getField("mass") > 0,
        l.getField("dup_mass").cast("double") / l.getField("mass"))
        .otherwise(lit(0.0)).as("dup_line_char_frac"),
      topFrac(2).as("top_2gram_frac"),
      topFrac(3).as("top_3gram_frac"),
      topFrac(4).as("top_4gram_frac"),
      when(tot2 > 0, dup2.cast("double") / tot2)
        .otherwise(lit(0.0)).as("dup_2gram_frac"))
  }

  /** BM25 relevance ranking (Robertson-Zaragoza, Lucene-style
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf smoothing) — the engine's
    * stand-in for the reference's backend relevance scoring, and the
    * quality-targeted data-selection ranker in a curation pipeline.
    *
    * Scale shape: corpus statistics (N, avgdl, per-term df) are ONE
    * tiny aggregate broadcast back over the scan (1-row cross join —
    * the scalar-broadcast pattern, not data×data), scoring is a
    * projection, and the result is a TakeOrdered top-k: two linear
    * passes, no wide shuffle. Scores are rounded to 6 decimals so the
    * ranking is reproducible across engines/libms (sub-ulp `ln`
    * differences would otherwise leak into the comparison); ties break
    * by doc id. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
           textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val ts = tokens(col(textCol))
    val withTok = docs.select(col("doc_id"), ts.as("ts"),
      size(ts).cast("double").as("dl"))
    val statAggs =
      count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("ts"), t), 1).otherwise(0))
          .cast("double").as(s"df_$i")
      }
    val stats = withTok.agg(statAggs.head, statAggs.tail: _*)
    val scored = withTok.crossJoin(broadcast(stats))
    // every arithmetic step mirrors the oracle SQL's operator order so
    // the doubles agree bit-for-bit before the final rounding
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("ts"), x => x === t)).cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      idf * (tf * (lit(k1) + 1)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  /** TF-IDF query ranking — the lexical second signal for hybrid
    * fusion ([[rrfFuse]]): score(doc) = Σ_t tf_t · (ln((1+N)/(1+df_t))
    * + 1), the [[tfidfKeywords]] weight summed over the probe terms.
    * Same 100 TB shape as [[bm25]]: one scalar-stats broadcast + a
    * scan-side projection + TakeOrdered top-k; scores rounded to 6
    * decimals for cross-libm reproducibility. */
  def tfidfRank(docs: DataFrame, terms: Seq[String], k: Int,
                textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "tfidfRank needs at least one query term")
    val ts = tokens(col(textCol))
    val withTok = docs.select(col("doc_id"), ts.as("ts"))
    val statAggs =
      count(lit(1)).cast("double").as("n") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("ts"), t), 1).otherwise(0))
          .cast("double").as(s"df_$i")
      }
    val stats = withTok.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("ts"), x => x === t)).cast("double") *
        (log((lit(1.0) + col("n")) / (lit(1.0) + col(s"df_$i"))) + lit(1.0))
    }.reduce(_ + _)
    withTok.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** HYBRID RETRIEVAL fusion — reciprocal-rank fusion (Cormack et al.
    * SIGIR 2009): each input ranking contributes 1/(rrfK + rank) per
    * document; missing documents contribute nothing. Ranker-AGNOSTIC —
    * the inputs are (doc_id, rank) frames, so at deployment either
    * side can be the ANN cosine ranking ([[graft.pipeline.Similarity]])
    * instead of a lexical one; fusion cost is a union of top-k-sized
    * frames + one tiny groupBy, independent of corpus size. Two-input
    * fusion is float-portable (IEEE addition of two terms is
    * commutative); for 3+ rankings the 6-decimal round keeps engines
    * in agreement. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings.map(_.select(col("doc_id"),
        (lit(1.0) / (lit(rrfK.toDouble) + col("rank"))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy("doc_id").agg(round(sum("contrib"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Corpus vocabulary: per-term total frequency and document
    * frequency, top `k` by frequency (term tie-break). The tokenizer-
    * training / frequency-analysis staple — one explode + one groupBy
    * (map-side partial counts; doc_freq via per-doc distinct BEFORE
    * the shuffle, so the exchanged rows are (term, doc) distinct, not
    * every occurrence). */
  def vocabulary(docs: DataFrame, k: Int = 100,
                 textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val df0 = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col(textCol))))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    tf.join(df0, Seq("term"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(k)
  }

  /** Per-source LEXICAL DIVERSITY report — the corpus-balance
    * dashboard a mixture designer reads before setting sampling rates:
    * per key, document count, token volume, distinct vocabulary,
    * type-token ratio, and the Shannon entropy of the token
    * distribution (low entropy = templated/repetitive source).
    *
    * 100 TB shape: one explode → one (key, token) groupBy (map-side
    * combined) → one per-key rollup; nothing driver-side. Entropy via
    * H = ln T − (Σ c·ln c)/T so the per-token division never
    * materializes; both the ratio and H round to 6 dp (cross-engine
    * summation order is a last-ulp effect). */
  def sourceDiversity(docs: DataFrame, keyCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(keyCol).as("key"), explode(tokens(col(textCol))).as("t"))
      .groupBy("key", "t").agg(count(lit(1)).as("c"))
    val perDoc = docs.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_docs"))
    counts.groupBy("key")
      .agg(sum("c").as("total_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(col("c") * log(col("c"))).as("clc"))
      .join(perDoc, Seq("key"))
      .select(col("key"), col("n_docs"), col("total_tokens"),
        col("distinct_tokens"),
        round(col("distinct_tokens").cast("double") /
          col("total_tokens"), 6).as("ttr"),
        round(log(col("total_tokens").cast("double")) -
          col("clc") / col("total_tokens"), 6).as("shannon"))
  }

  /** ZIPF SLOPE — the rank-frequency power-law exponent of the corpus
    * vocabulary (natural text sits near −1; a heavily templated or
    * synthetic corpus drifts off): least-squares slope of ln(freq) on
    * ln(rank) over the TOP-`k` vocabulary. The global rank window runs
    * over a frame already truncated to k rows (top-k by a
    * sort-and-limit, never a corpus-wide single-partition window) —
    * at any corpus size the regression input is k points. Returns one
    * row: vocabulary size, the fitted slope and intercept (6 dp). */
  def zipfSlope(docs: DataFrame, k: Int = 1000,
                textCol: String = "text"): DataFrame = {
    val tf = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("freq"))
    val vocabSize = tf.agg(count(lit(1)).as("vocab_size"))
    val top = tf.orderBy(col("freq").desc, col("t").asc).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("t").asc)))
    val pts = top.select(log(col("rank").cast("double")).as("x"),
      log(col("freq").cast("double")).as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .crossJoin(broadcast(vocabSize))
      .select(col("vocab_size"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 6).as("slope"),
        round(col("sy") / col("n") -
          (col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")) *
          col("sx") / col("n"), 6).as("intercept"))
  }

  /** Adjacent-bigram PMI collocations — the corpus-association miner
    * (phrase detection, tokenizer merge candidates, quality probes all
    * read it): for each bigram with at least `minCount` occurrences,
    * `pmi = ln(p(w1 w2) / (p(w1) p(w2)))` with probabilities from the
    * corpus's own occurrence counts; top `k` by PMI.
    *
    * 100 TB shape: two map-side-combined occurrence counts (unigram,
    * bigram), totals as a 1-row broadcast, the bigram table joined to
    * the unigram counts on the token key, TakeOrdered top-k. The
    * arithmetic keeps one operator order (`cab·nu·nu / (nb·c1·c2)`
    * inside a single ln, rounded to 6 decimals) so the oracle's
    * doubles agree exactly. */
  def pmiPairs(docs: DataFrame, minCount: Int = 5, k: Int = 50,
               textCol: String = "text"): DataFrame = {
    val ts = tokens(col(textCol))
    val uniOcc = docs.select(explode(ts).as("t"))
    val uni = uniOcc.groupBy("t").agg(count(lit(1)).as("cu"))
    // materialized-ts projection before the gram lambda (shinglesOf
    // caller contract — inline would re-tokenize per bigram)
    val biOcc = docs.select(tokens(col(textCol)).as("__ts"))
      .select(explode(gramsAll(col("__ts"), 2)).as("g"))
    val bi = biOcc.groupBy("g").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minCount)
    val totals = broadcast(
      uniOcc.agg(count(lit(1)).cast("double").as("nu"))
        .crossJoin(biOcc.agg(count(lit(1)).cast("double").as("nb"))))
    bi.select(col("cab"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .join(uni.select(col("t").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("cab"),
        round(log(col("cab").cast("double") * col("nu") * col("nu") /
          (col("nb") * col("c1").cast("double") *
            col("c2").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Smoothed unigram language-model scoring — the PERPLEXITY-FILTER
    * shape (CCNet/Gopher-style quality gating scores every document
    * under a corpus LM and drops the tail). The model is add-one-
    * smoothed unigram over the corpus's own tokens: P(w) =
    * (c(w)+1)/(N+V); each document scores its mean token log-prob
    * `avg(ln(c+1) − ln(N+V))` (higher = more typical of the corpus).
    *
    * 100 TB shape: the count table is one map-side-combined groupBy;
    * scoring re-joins occurrences on the token key (sort-merge on a
    * vocabulary-sized side — or broadcast when the vocab fits), then
    * one per-doc aggregation. Nothing quadratic, no driver state: the
    * "trained model" IS the counts frame. Rounded to 6 decimals (the
    * cross-engine float grid). Returns (doc_id, lm_logp); documents
    * with no tokens have no probability mass and are absent, like the
    * reference analyzers skip empty fields. */
  def lmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val occ = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = occ.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    occ.join(counts, Seq("tok"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log(col("c") + lit(1.0)) - log(col("n") + col("v"))).as("lp"))
      .groupBy("doc_id").agg(round(avg(col("lp")), 6).as("lm_logp"))
  }

  /** BPE MERGE TRAINING (Sennrich et al. 2016 — the tokenizer-training
    * operator): learn the first `merges` byte-pair merges from the
    * corpus. Classic recipe: train on the FREQUENCY-WEIGHTED WORD
    * TABLE (one groupBy over the token explode — the corpus text is
    * never rescanned), each word a char-symbol sequence; per
    * iteration, count adjacent symbol pairs weighted by word
    * frequency, take the argmax (ties broken lexicographically so the
    * sequence is deterministic), and merge it GREEDILY LEFT-TO-RIGHT,
    * NON-OVERLAPPING in every word — the standard BPE application
    * order, implemented as an in-row `aggregate` fold over the symbol
    * array (state = emitted symbols + one pending symbol; no UDF).
    *
    * 100 TB shape: the iteration state is the word table (distinct
    * words × freq — vocabulary-sized, not corpus-sized), each round =
    * one pair-count shuffle over it plus a 1-row argmax collect; cost
    * per merge is independent of corpus size after the initial
    * explode. Returns the merge sequence (left, right, pair_count).
    * Invariant (asserted by the declared query): pair counts are
    * non-increasing — any pair created by a merge contains the new
    * symbol, whose occurrence count is bounded by the merged pair's. */
  /** Greedy left-to-right non-overlapping application of ONE merge
    * (a,b)→ab to a symbol array — the standard BPE merge order, as an
    * in-row `aggregate` fold (state = emitted symbols + one pending
    * symbol; "" is a safe sentinel, symbols are never empty). */
  private def mergeFold(arr: Column, a: String, b: String): Column = {
    def flush(s: Column): Column =
      when(s.getField("prev") === "", s.getField("out"))
        .otherwise(concat(s.getField("out"), array(s.getField("prev"))))
    aggregate(arr,
      struct(array().cast("array<string>").as("out"), lit("").as("prev")),
      (s, x) => when(s.getField("prev") === lit(a) && x === lit(b),
        struct(concat(s.getField("out"), array(lit(a + b))).as("out"),
          lit("").as("prev")))
        .otherwise(struct(flush(s).as("out"), x.as("prev"))),
      s => flush(s))
  }

  /** SEGMENT the corpus with a learned merge table ([[bpeTrain]]
    * output, applied in training order — the standard encode rule):
    * per word chars → each merge's greedy fold → per-doc symbol
    * counts. Returns (doc_id, n_tokens, n_chars, n_symbols) — the
    * compression the learned vocabulary buys, per document, computed
    * IN-ROW (no shuffle; the merge table is a plan literal). Not
    * SQL-expressible (the oracle cannot apply ordered greedy merges),
    * so the contract is pinned by the hand-checked EngineSpec case. */
  def bpeSegment(docs: DataFrame, merges: Seq[(String, String)],
                 textCol: String = "text"): DataFrame = {
    def charsOf(w: Column): Column =
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    def segmented(w: Column): Column =
      merges.foldLeft(charsOf(w)) { case (c, (a, b)) => mergeFold(c, a, b) }
    val ts = col("__ts")
    docs.select(col("doc_id"), tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        size(ts).as("n_tokens"),
        coalesce(aggregate(ts, lit(0), (n, w) => n + length(w)), lit(0))
          .as("n_chars"),
        coalesce(aggregate(ts, lit(0), (n, w) => n + size(segmented(w))),
          lit(0)).as("n_symbols"))
  }

  def bpeTrain(docs: DataFrame, merges: Int,
               textCol: String = "text"): Seq[(String, String, Long)] = {
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    // computeParallel: the tokenize+explode feeding the vocab count is
    // the corpus-sized pass of BPE training and runs pre-shuffle — a
    // single-split corpus would tokenize serially (no-op at scale)
    var words = Caches.persist(Similarity.computeParallel(docs)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), chars.as("syms")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // previous round's vocab table, released only AFTER the next
    // round's top-pair collect has materialized the current one — the
    // former eager `next.count()` spent a second driver action per
    // merge round purely to make unpersist safe (2N+1 jobs for N
    // merges; now N+1). Holding two vocab-sized tables briefly is the
    // same peak the count path had.
    var prev: DataFrame = null
    try {
      for (_ <- 1 to merges) {
        val top = words
          .select(col("freq"), explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
          .select(col("freq"), col("p").getField("0").as("a"),
            col("p").getField("1").as("b"))
          .groupBy("a", "b").agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        // this collect materialized `words`' persist — the round
        // before it is now safe to drop
        if (prev != null) { Caches.release(prev); prev = null }
        if (top.isEmpty) return out.toSeq
        val (a, b, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((a, b, c))
        val next = Caches.persist(words.select(col("freq"),
          mergeFold(col("syms"), a, b).as("syms")))
        prev = words
        words = next
      }
      out.toSeq
    } finally {
      if (prev != null) Caches.release(prev)
      Caches.release(words)
    }
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents
    * by how much more likely a TARGET domain's language model finds
    * them than the raw corpus's own model — per doc the mean over
    * tokens of `ln p_target(t) − ln p_raw(t)`, both add-one-smoothed
    * unigram bag models over the SHARED raw vocabulary (so the ratio
    * is defined for every token; the paper's hashed-n-gram bags are
    * this estimator family with hashing the corpus here doesn't
    * need). `targetPred` marks the target/domain rows — a provenance
    * label in practice. Returns (doc_id, dsir_logratio on the
    * 6-decimal grid, keep = more target-like than raw-like).
    *
    * 100 TB shape: the [[lmScore]] plan with a second count column —
    * ONE token explode feeds one map-side-combined count table
    * carrying (raw, target) counts, a 1-row total broadcasts, and
    * scoring is a vocabulary-keyed join + per-doc aggregation.
    * Nothing quadratic, no second corpus scan for the target model. */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  textCol: String = "text"): DataFrame = {
    val occ = docs.select(col("doc_id"), targetPred.as("__tgt"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = occ.groupBy("tok").agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("c_tgt"))
    val totals = counts.agg(
      sum(col("c_raw")).cast("double").as("n_raw"),
      sum(col("c_tgt")).cast("double").as("n_tgt"),
      count(lit(1)).cast("double").as("v"))
    occ.join(counts, Seq("tok"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        ((log(col("c_tgt") + lit(1.0)) - log(col("n_tgt") + col("v"))) -
          (log(col("c_raw") + lit(1.0)) - log(col("n_raw") + col("v"))))
          .as("lr"))
      .groupBy("doc_id").agg(round(avg(col("lr")), 6).as("dsir_logratio"))
      .withColumn("keep", col("dsir_logratio") > 0)
  }

  /** Add-one-smoothed BIGRAM language-model scoring — the next step up
    * from [[lmScore]]'s unigram perplexity gate: each document scores
    * its mean conditional token log-prob
    * `avg(ln((c(prev cur)+1) / (c(prev)+V)))` over positions 2..n,
    * with counts from the corpus's own token stream. Catches local
    * incoherence (shuffled words) that unigram scoring is blind to.
    *
    * 100 TB shape: two map-side-combined count tables (bigram,
    * unigram-as-context), scoring re-joins the doc's bigram
    * occurrences on the bigram key then one per-doc aggregation —
    * vocabulary-sized join sides, nothing quadratic. Documents with
    * fewer than 2 tokens have no bigram mass and are absent (same
    * contract as [[lmScore]]). */
  def lmScoreBigram(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // tokens materialize BEFORE the gram transform (shinglesOf caller
    // contract): inline they'd re-tokenize once per bigram — measured
    // 13× on this query
    val occ = docs
      .select(col("doc_id"), tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"), explode(gramsAll(col("__ts"), 2)).as("g"))
    val bi = occ.groupBy("g").agg(count(lit(1)).as("cab"))
    val uniFromBi = occ
      .select(split(col("g"), " ").getItem(0).as("t"))
      .groupBy("t").agg(count(lit(1)).as("ca"))
    val v = broadcast(occ.select(split(col("g"), " ").getItem(0).as("t"))
      .agg(count_distinct(col("t")).cast("double").as("v")))
    occ.join(bi, Seq("g"))
      .withColumn("t", split(col("g"), " ").getItem(0))
      .join(uniFromBi, Seq("t"))
      .crossJoin(v)
      .select(col("doc_id"),
        (log(col("cab") + lit(1.0)) - log(col("ca") + col("v"))).as("lp"))
      .groupBy("doc_id").agg(round(avg(col("lp")), 6).as("lm2_logp"))
  }

  /** Multinomial NAIVE BAYES document classifier — the seed-set
    * quality-filter recipe (Brown/GPT-3-style: label a small seed by
    * provenance, score the whole corpus, keep what classifies as the
    * high-quality class), re-expressed as joins + groupBys so the
    * TRAINING arithmetic itself is oracle-checkable (no iterative
    * optimizer; the "trained model" IS the per-class count tables).
    *
    * `score_c(d) = ln(n_c/n) + Σ_t tf_dt · ln((c_ct+1)/(N_c+V))`
    * with V = distinct tokens across the seed. Returns per doc the
    * argmax class (ties to the alphabetically first) and the rounded
    * score margin (first-class score − second-class score, 6 decimals).
    *
    * 100 TB shape: per-class counts are one combinable groupBy over
    * the SEED (tiny); scoring joins each doc's (token, tf) against the
    * class-count table on the token key (vocab-sized — broadcast when
    * it fits) and aggregates per (doc, class); unseen-token mass is
    * handled closed-form as `(len_d − Σ matched tf) · ln(1/(N_c+V))`,
    * so no outer join materializes the vocab×doc cross. */
  def nbClassify(docs: DataFrame, seed: DataFrame,
                 labelCol: String = "label",
                 textCol: String = "text"): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val docLen = tf.groupBy("doc_id").agg(sum(col("tf")).as("len"))
    val seedOcc = seed.select(col(labelCol).as("cls"),
      explode(tokens(col(textCol))).as("tok"))
    val ccnt = seedOcc.groupBy("cls", "tok").agg(count(lit(1)).as("c"))
    val classes = broadcast(ccnt.groupBy("cls")
      .agg(sum(col("c")).cast("double").as("nc")))
    val priors = broadcast(seed.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).cast("double").as("ndocs"))
      .crossJoin(seed.agg(count(lit(1)).cast("double").as("ntot"))))
    val v = broadcast(seedOcc.select("tok").agg(
      count_distinct(col("tok")).cast("double").as("v")))
    // matched-token mass per (doc, class); unseen mass added closed-form
    // an unseen token's numerator is ln(0+1) = 0, so only matched
    // tokens contribute to lnum; the shared −len·ln(Nc+V) denominator
    // covers every position
    val matched = tf.join(ccnt, Seq("tok"))
      .groupBy("doc_id", "cls").agg(
        sum(col("tf") * log(col("c") + lit(1.0))).as("lnum"))
    val scored = docLen.crossJoin(classes.select("cls"))
      .join(matched, Seq("doc_id", "cls"), "left")
      .join(classes, Seq("cls")).crossJoin(v).join(priors, Seq("cls"))
      .select(col("doc_id"), col("cls"),
        (log(col("ndocs") / col("ntot")) +
          coalesce(col("lnum"), lit(0.0)) -
          col("len") * log(col("nc") + col("v"))).as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cls").asc)
    scored.withColumn("__rn", row_number().over(w))
      .groupBy("doc_id").agg(
        max(when(col("__rn") === 1, col("cls"))).as("pred"),
        round(max(when(col("__rn") === 1, col("score"))) -
          max(when(col("__rn") === 2, col("score"))), 6).as("margin"))
  }

  /** TF-IDF keyword extraction: the top `k` terms per document by
    * `tf · (ln((1+N)/(1+df)) + 1)` (scikit-style smoothed idf — never
    * zero, never log-of-zero), ties to the lexicographically smaller
    * term. The topic-labeling / index-term staple of a curation
    * pipeline.
    *
    * 100 TB shape: per-(doc, term) tf is one map-side-combined
    * groupBy; df derives from THAT table (already distinct per doc, no
    * second pass over the text); N is a 1-row broadcast; the idf join
    * keys on the term (vocabulary-sized — broadcast when it fits,
    * sort-merge co-partitioned with tf's shuffle otherwise); top-k is
    * a per-doc window whose partitions are doc-sized. Scores round to
    * 6 decimals (the cross-engine float grid). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3,
                    textCol: String = "text"): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df0 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df0, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") *
          (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0)),
          6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** HEAVY HITTERS — every token whose corpus frequency is at least
    * `phi · N` (N = total token occurrences), found with BOUNDED state:
    * phase 1 runs a Misra–Gries summary of capacity `ceil(2/phi)` per
    * partition (each partition's sketch keeps every token exceeding
    * its local phi-fraction; by averaging, a global phi-heavy token
    * must exceed it somewhere, so the candidate union has NO false
    * negatives); phase 2 recounts ONLY the candidates exactly
    * (broadcast semi-join over a second scan) and keeps those at or
    * above the threshold — two corpus scans total, with the exact
    * token total riding along in the sketch pass. Output is exact and deterministic — the
    * partitioning only affects the discarded false-positive set.
    *
    * vs [[vocabulary]]: the full groupBy holds one counter per
    * DISTINCT TERM per task (web-scale vocabularies run to billions);
    * here per-task state is a fixed 2/phi counters regardless of
    * corpus, and the only shuffle is candidate-sized. The classic
    * sketch-then-verify shape for 100 TB frequency mining. */
  def heavyHitters(docs: DataFrame, phi: Double = 0.001,
                   textCol: String = "text"): DataFrame = {
    require(phi > 0 && phi <= 1, s"phi in (0,1]: $phi")
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = math.ceil(2 / phi).toInt
    // Phase 1 consumes the SAME Spark tokens() expression phase 2
    // recounts with. (An earlier version mirrored the tokenizer in
    // Scala with Locale.ROOT — but Spark's UTF8String lowercasing
    // slow path uses the JVM default locale, so on a non-ROOT locale
    // with non-ASCII text the two could disagree and silently drop a
    // true heavy hitter; tokenizing once in Spark removes the mirror.)
    val tokenArrays = docs.select(tokens(col(textCol)).as("toks"))
      .as[Seq[String]]
    // Per-partition Misra–Gries sketch; each partition also emits its
    // exact token count as a (null, n) sentinel row, so the global
    // total rides along instead of costing a third corpus scan.
    val sketch = tokenArrays.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      for (ts <- it if ts != null; w <- ts) {
        n += 1
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None =>
            if (counts.size < cap) counts.update(w, 1L)
            else {
              // decrement-all step; drop zeros (classic MG)
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              counts.mapValuesInPlace((_, c) => c - 1)
              counts.foreach { case (k, c) => if (c == 0) dead += k }
              dead.foreach(counts.remove)
            }
        }
      }
      counts.keysIterator.map(t => (t, 0L)) ++ Iterator((null: String, n))
    }.collect() // bounded: partitions × (cap+1) rows — the same driver
                // footprint the broadcast(candidates) below pays anyway
    val total = sketch.iterator.collect { case (null, n) => n }.sum.toDouble
    val threshold = math.ceil(phi * total)
    val candTerms: Seq[String] =
      sketch.iterator.collect { case (t, _) if t != null => t }.toSet.toSeq
    val candidates = candTerms.toDF("term")
    // candidate set is (partitions × cap)-bounded → broadcast semi-join,
    // never an executor-side giant IN list
    docs.select(explode(tokens(col(textCol))).as("term"))
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= threshold)
      .orderBy(col("freq").desc, col("term").asc)
  }

  /** Per-document Shannon ENTROPY of the unigram distribution — the
    * information-density quality proxy (near-zero for boilerplate and
    * keyword-stuffed spam, high for natural prose; a cheap stand-in
    * for a compression-ratio signal, which it upper-bounds).
    *
    * 100 TB shape: NO shuffle. The relational formulation (explode →
    * groupBy(doc, term)) shuffles every token in the corpus; here the
    * distribution is recovered inside the row — sort the token array,
    * find the run starts, run lengths are consecutive-start deltas,
    * entropy folds over the runs — one codegen'd projection over the
    * scan. The oracle recomputes it relationally, pinning the two
    * formulations against each other. Returns (doc_id, n_tokens,
    * n_distinct, entropy) with entropy on the 6-decimal grid and the
    * empty doc yielding 0.0. */
  def tokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val s = col("__s")
    docs
      .select(col("doc_id"),
        graft.functions.GramRunStats.of(tokens(col(textCol)), 1).as("__s"))
      .select(col("doc_id"),
        s.getField("n").as("n_tokens"),
        s.getField("n_runs").as("n_distinct"),
        round(s.getField("entropy"), 6).as("entropy"))
  }
}
