package graft.ops

import graft.functions.SlotExists
import graft.model.{GraftStore, InfotonModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `op=aggregate` / `op=stats` — the `ap=` aggregation algebra
  * (SURVEY.md §2.4).
  *
  * Reference: AST cmwell-domain/.../AggregationFilter.scala:22-79,
  * parser Parsers.scala:157-275, ES build + response mapping
  * FTSService.scala:940-1105. All bucket aggregations support strict
  * nesting via `subFilters` (`<...>` in ap).
  *
  * Spark shape: every aggregation is a groupBy over the *values* of a
  * field (multi-valued fields explode first, like ES counting each
  * value into its bucket); nesting = re-group by (parent key, child
  * key) semi-joined to the parent's surviving buckets — a strict
  * nesting tree, NOT rollup/cube. Partial (map-side) aggregation and
  * the final top-K are Catalyst built-ins, so at 100 TB each agg is
  * one shuffle of pre-combined partials.
  */
object Aggregations {

  sealed trait AggSpec {
    def name: String; def field: String; def subs: Seq[AggSpec]
  }
  /** top-`size` values by doc count (AggregationFilter.scala:43-52). */
  final case class TermAgg(name: String, field: String, size: Int = 10,
      subs: Seq[AggSpec] = Nil) extends AggSpec
  /** count/min/max/avg/sum (AggregationFilter.scala:38-41). */
  final case class StatsAgg(name: String, field: String) extends AggSpec {
    def subs: Seq[AggSpec] = Nil
  }
  /** numeric histogram (AggregationFilter.scala:54-61); extMin/extMax
    * are ES extended_bounds — the bucket spine is forced to cover
    * [extMin, extMax] so empty buckets surface (pair with
    * minDocCount:0, as in ES). */
  final case class HistAgg(name: String, field: String, interval: Double,
      minDocCount: Int = 1, extMin: Option[Double] = None,
      extMax: Option[Double] = None, subs: Seq[AggSpec] = Nil) extends AggSpec
  /** distinct count; `precisionThreshold` maps to approx rsd — exact
    * below threshold (AggregationFilter.scala:76-79). */
  final case class CardAgg(name: String, field: String,
      precisionThreshold: Option[Long] = None) extends AggSpec {
    def subs: Seq[AggSpec] = Nil
  }
  /** significant terms vs background set, JLH-style score
    * (AggregationFilter.scala:63-74; FTSService.scala:991-997). */
  final case class SigTermsAgg(name: String, field: String, size: Int = 10,
      minDocCount: Int = 1,
      backgroundTerm: Option[(String, String)] = None) extends AggSpec {
    def subs: Seq[AggSpec] = Nil
  }

  /** Background doc set for sig-terms: every current doc (default), or
    * — with `backgroundTerm:f*v` (Parsers.scala:207) — the docs whose
    * field f carries lexical value v. The term-restricted background
    * spans ALL versions (the ES index indexes versions as documents,
    * FTSService background_filter semantics), while the no-term
    * default stays the current snapshot. */
  private def sigBackground(store: GraftStore, g: SigTermsAgg): DataFrame =
    g.backgroundTerm.fold(store.current) { case (f, v) =>
      store.infotons.where(
        col("system.kind") =!= InfotonModel.KindDeleted &&
        SlotExists.of(col("fields").getItem(f), "s", "=", lit(v)))
    }

  /** Numeric view of a typed value struct: dates aggregate as epoch
    * millis (ES date-stats semantics), everything else uses the `n`
    * slot. */
  private def numSlot(store: GraftStore, field: String, v: Column): Column =
    store.vTypeOf(field) match {
      case Some("w") => unix_millis(v.getField("t"))
      case _ => v.getField("n")
    }

  private def slot(store: GraftStore, field: String, v: Column): Column =
    store.vTypeOf(field) match {
      case Some(t) if "ildf".contains(t) => v.getField("n")
      case Some("w") => v.getField("t")
      case Some("b") => v.getField("b")
      case _ => v.getField("s")
    }

  /** Exploded (bucket-key) view of `base` for one field — one row per
    * value (ES buckets each value of a multi-valued field). */
  def keyed(store: GraftStore, base: DataFrame, field: String,
            as: String): DataFrame =
    base.where(col("fields").getItem(field).isNotNull)
      .select(col("system.path").as("path"),
        explode(col("fields").getItem(field)).as("__v"), col("fields"))
      .select(col("path"), slot(store, field, col("__v")).as(as),
        col("fields"))

  /** type:term — ES tie-break: doc_count desc, then key asc. */
  def term(store: GraftStore, base: DataFrame, spec: TermAgg): DataFrame = {
    val buckets = keyed(store, base, spec.field, "key")
      .groupBy("key").agg(count(lit(1)).as("doc_count"))
      .orderBy(col("doc_count").desc, col("key").asc)
      .limit(spec.size)
    if (spec.subs.isEmpty) buckets
    else spec.subs.foldLeft(buckets) { (acc, sub) =>
      val child = subAgg(store, base, Seq(spec.field -> "key"), sub)
      // broadcast: surviving parent buckets are ≤ size rows
      child.join(broadcast(acc), Seq("key"))
        .select(acc.columns.map(col) ++
          child.columns.filterNot(_ == "key").map(col): _*)
    }
  }

  /** First value of `field` routed to its typed slot (sub-agg keys and
    * leaf values; single-valued fields — the head of a chain explodes). */
  private def firstVal(store: GraftStore, field: String): Column = {
    val v = element_at(col("fields").getItem(field), 1)
    store.vTypeOf(field) match {
      case Some(t) if "ildf".contains(t) => v.getField("n")
      case Some("w") => v.getField("t")
      case Some("b") => v.getField("b")
      case _ => v.getField("s")
    }
  }

  /** Sub-aggregation under an ancestor chain — ARBITRARY depth
    * (reference strict nesting, FTSService.scala:1008-1036): the chain
    * is (field, keyColumn) per ancestor bucket level, head exploded
    * like the top-level bucketing; a TermAgg child recurses with its
    * own key appended. Every level is one groupBy over the same keyed
    * view, joined back to the surviving parent buckets — grouping-sets
    * flattening of the response tree, not rollup. */
  private def subAgg(store: GraftStore, base: DataFrame,
                     chain: Seq[(String, String)], sub: AggSpec): DataFrame = {
    val (headField, headAlias) = chain.head
    def view(extra: (String, Column)*): DataFrame = {
      val rest = chain.tail.map { case (f, a) => firstVal(store, f).as(a) } ++
        extra.map { case (a, c) => c.as(a) }
      keyed(store, base, headField, headAlias)
        .select(col(headAlias) +: rest: _*)
    }
    val keys = chain.map(_._2)
    sub match {
      case s: StatsAgg =>
        view("v" -> numSlot(store, s.field,
            element_at(col("fields").getItem(s.field), 1)))
          .groupBy(keys.map(col): _*)
          .agg(count(col("v")).as(s"${s.name}_count"),
            min(col("v")).as(s"${s.name}_min"),
            max(col("v")).as(s"${s.name}_max"),
            // accumulate in decimal (partition-order independent), emit
            // double — a decimal output column would hash differently
            // from the oracle's float conversion. decimal(30,2): date
            // fields sum epoch millis (~1.4e12/row), so 18 digits
            // overflows around 10k rows
            sum(col("v").cast("decimal(30,2)")).cast("double")
              .as(s"${s.name}_sum"))
      case t: TermAgg =>
        val childKey = s"${t.name}_key"
        val grouped = view(childKey -> firstVal(store, t.field))
          .groupBy((keys :+ childKey).map(col): _*)
          .agg(count(lit(1)).as(s"${t.name}_count"))
        // ES terms truncates PER PARENT bucket — top-`size` by doc_count
        // desc, key asc, the same tie-break as the top-level termBuckets
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(s"${t.name}_count").desc, col(childKey).asc)
        val buckets = grouped
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= t.size).drop("__rn")
        t.subs.foldLeft(buckets) { (acc, deeper) =>
          val child = subAgg(store, base, chain :+ ((t.field, childKey)), deeper)
          acc.join(child, keys :+ childKey)
        }
      case c: CardAgg =>
        // typed slot, NOT the numeric one — card over a string field
        // would otherwise count all-null as 0
        view("v" -> firstVal(store, c.field))
          .groupBy(keys.map(col): _*)
          .agg(countDistinct(col("v")).as(s"${c.name}_card"))
      case h: HistAgg =>
        view("v" -> numSlot(store, h.field,
            element_at(col("fields").getItem(h.field), 1)))
          .groupBy(keys.map(col) :+
            (floor(col("v") / h.interval) * h.interval).as(s"${h.name}_bucket"): _*)
          .agg(count(lit(1)).as(s"${h.name}_count"))
          .where(col(s"${h.name}_count") >= h.minDocCount)
      case g: SigTermsAgg =>
        // sig-terms under a bucket chain (FTSService.scala:1008-1036
        // allows any nesting): fg = the parent bucket's docs, bg = every
        // doc carrying the field. Same JLH score and shuffle shape as
        // the top-level sigTerms; the per-parent top-size is a window,
        // not a global limit.
        val childKey = s"${g.name}_key"
        // persisted for the same two-consumer reason as [[sigTerms]]:
        // fgc feeds both the per-parent total and the score join, bgc
        // both the global total and the join — unpersisted, each
        // grouped count re-ran its store scan
        val fgc = Caches.persist(view(childKey -> firstVal(store, g.field))
          .where(col(childKey).isNotNull)
          .groupBy((keys :+ childKey).map(col): _*)
          .agg(count(lit(1)).as(s"${g.name}_fg")))
        val fgTot = fgc.groupBy(keys.map(col): _*)
          .agg(sum(s"${g.name}_fg").as("__fg_total"))
        val bgc = Caches.persist(
          keyed(store, sigBackground(store, g), g.field, childKey)
            .groupBy(col(childKey)).agg(count(lit(1)).as(s"${g.name}_bg")))
        val fgF = col(s"${g.name}_fg").cast("double") / col("__fg_total")
        val bgF = col(s"${g.name}_bg").cast("double") / col("__bg_total")
        val scored = fgc.join(fgTot, keys)
          .join(bgc, Seq(childKey))
          .crossJoin(bgc.agg(sum(s"${g.name}_bg").as("__bg_total")))
          .where(col(s"${g.name}_fg") >= g.minDocCount)
          .withColumn(s"${g.name}_score", ((fgF - bgF) * fgF) / bgF)
          .where(col(s"${g.name}_score") > 0)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(s"${g.name}_score").desc, col(childKey).asc)
        scored.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= g.size)
          .select((keys :+ childKey).map(col) ++
            Seq(col(s"${g.name}_fg"), col(s"${g.name}_bg"),
              col(s"${g.name}_score")): _*)
      case other =>
        throw new IllegalArgumentException(s"unsupported sub-agg $other")
    }
  }

  /** type:stats — count/min/max/avg/sum. Sum runs in decimal so the
    * result is independent of partition order (double accumulation
    * would make the hash non-deterministic); avg derives from the
    * exact sum. */
  def stats(store: GraftStore, base: DataFrame, spec: StatsAgg): DataFrame = {
    // dates aggregate as epoch millis (ES date-stats); keyed() routes a
    // date field to its timestamp slot, so remap to numeric here
    val v = if (store.vTypeOf(spec.field).contains("w"))
      unix_millis(col("v")) else col("v")
    keyed(store, base, spec.field, "v")
      .agg(count(v).as("count"),
        min(v).as("min"), max(v).as("max"),
        // decimal(30,2), not (18,2): epoch-millis values (~1.4e12 each)
        // overflow an 18-digit sum around 10k rows
        sum(v.cast("decimal(30,2)")).cast("double").as("sum"))
      .withColumn("avg", col("sum") / col("count"))
  }

  /** type:hist — fixed-interval numeric histogram (dates in millis). */
  def hist(store: GraftStore, base: DataFrame, spec: HistAgg): DataFrame = {
    val v = if (store.vTypeOf(spec.field).contains("w"))
      unix_millis(col("v")) else col("v")
    // group on the INTEGRAL bucket index (floor yields LongType) — a
    // spine join on the recomputed double bucket value could ulp-split
    // one bucket into two for non-integral intervals; the index is
    // exact and the double bucket is derived once in the projection
    val counts = keyed(store, base, spec.field, "v")
      .groupBy(floor(v / spec.interval).as("idx"))
      .agg(count(lit(1)).as("doc_count"))
    def asBucket(df: DataFrame): DataFrame =
      df.select((col("idx") * spec.interval).as("bucket"),
        col("doc_count"))
    // extended bounds EXTEND the bucket range (out-of-range data
    // buckets are kept, as in ES): full-outer against the driver-tiny
    // bucket spine, zero-filled
    val filled = (spec.extMin, spec.extMax) match {
      case (Some(lo), Some(hi)) =>
        require(hi >= lo, "extMax < extMin")
        val spine = base.sparkSession
          .range(math.floor(lo / spec.interval).toLong,
            math.floor(hi / spec.interval).toLong + 1)
          .select(col("id").as("idx"))
        asBucket(spine.join(counts, Seq("idx"), "full_outer")
          .select(col("idx"),
            coalesce(col("doc_count"), lit(0L)).as("doc_count")))
      case (None, None) => asBucket(counts)
      case _ => throw new IllegalArgumentException(
        "extMin and extMax must be given together")
    }
    filled.where(col("doc_count") >= spec.minDocCount).orderBy("bucket")
  }

  /** type:card — exact below precisionThreshold, HLL above (the same
    * contract ES documents for cardinality). */
  def card(store: GraftStore, base: DataFrame, spec: CardAgg): DataFrame = {
    val k = keyed(store, base, spec.field, "v")
    spec.precisionThreshold match {
      case Some(t) if t > 0 && t < 40000 =>
        k.agg(approx_count_distinct(col("v"), 1.04 / math.sqrt(t.toDouble))
          .as("card"))
      case _ => k.agg(countDistinct(col("v")).as("card"))
    }
  }

  /** type:sig — significant terms: foreground (the filtered base) vs
    * background (all docs carrying the field in `bg`), scored like
    * ES JLH: (fgFreq - bgFreq) * fgFreq / bgFreq
    * (FTSService.scala:991-997,1062-1074).
    *
    * Two grouped counts joined on the term key — no collect, no forced
    * broadcast (a high-cardinality background would OOM a broadcast;
    * AQE picks one at runtime when the side is genuinely small).
    * Totals are 1-row aggregates cross-joined in (Spark broadcasts a
    * single row for free) instead of a global unpartitioned window.
    *
    * The grouped counts are PERSISTED ([[Caches]]): each feeds both
    * the term join and its own total aggregate, and Catalyst inlines a
    * twice-referenced subtree — without the persist the fg and bg
    * store scans each ran twice per sig query (measured: 4 near-equal
    * scan stages ≈ the whole query). Term-count-sized, released at the
    * end of the query. */
  def sigTerms(store: GraftStore, fg: DataFrame, bg: DataFrame,
               spec: SigTermsAgg): DataFrame = {
    val fgc = Caches.persist(keyed(store, fg, spec.field, "key")
      .groupBy("key").agg(count(lit(1)).as("fg_count")))
    val bgc = Caches.persist(keyed(store, bg, spec.field, "key")
      .groupBy("key").agg(count(lit(1)).as("bg_count")))
    val fgF = col("fg_count").cast("double") / col("fg_total")
    val bgF = col("bg_count").cast("double") / col("bg_total")
    fgc.crossJoin(fgc.agg(sum("fg_count").as("fg_total")))
      .join(bgc.crossJoin(bgc.agg(sum("bg_count").as("bg_total"))),
        Seq("key"))
      .where(col("fg_count") >= spec.minDocCount)
      .withColumn("score", ((fgF - bgF) * fgF) / bgF)
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("key").asc)
      .limit(spec.size)
      .select("key", "fg_count", "bg_count", "score")
  }

  /** ES fail-loud parity: an ANALYZED-ONLY field (text with no keyword
    * / doc-values slot) cannot be bucketed or sorted — the reference's
    * ES backend rejects the aggregation ("fielddata disabled on text
    * fields"), it does not silently aggregate tokens. Checked for the
    * whole spec tree up front so a nested leaf fails as loudly as a
    * top-level field. */
  private def requireAggregatable(store: GraftStore, spec: AggSpec): Unit = {
    def walk(s: AggSpec): Unit = {
      require(!store.analyzedOnly(s.field),
        s"field '${s.field}' is analyzed-only (no non-analyzed keyword " +
          "slot) — aggregation requires a non-analyzed field")
      s.subs.foreach(walk)
    }
    walk(spec)
  }

  /** Dispatch for a parsed ap spec against a search result. */
  def run(store: GraftStore, base: DataFrame, spec: AggSpec): DataFrame = {
    requireAggregatable(store, spec)
    spec match {
      case t: TermAgg => term(store, base, t)
      case s: StatsAgg => stats(store, base, s)
      case h: HistAgg => hist(store, base, h)
      case c: CardAgg => card(store, base, c)
      case g: SigTermsAgg => sigTerms(store, base, sigBackground(store, g), g)
    }
  }
}
