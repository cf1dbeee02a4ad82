package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Candidate-then-verify: the one substrate of the dedup-pair and ANN
  * top-k families. A variant makes candidates by a key and joins them
  * on it ([[pairs]]), checks each candidate with an exact measure
  * (projected straight off the join, or joined on by [[verify]]), and
  * keeps the qualifying pairs or a per-query top-k ([[topK]],
  * [[rerank]]). The variant supplies only its key columns, its extra
  * join condition and its exact measure — the shape of one prefix-filter
  * candidate generator with verification behind it (string-similarity
  * joins over compressed indexes, ICDE 2022).
  *
  * Persisting a keyed frame before it self-joins stays the caller's
  * decision: it depends on how expensive the keyed frame is to rebuild. */
object Candidates {

  /** Column `c` of the left / right row of a [[pairs]] join. */
  def l(c: String): Column = col(s"l.$c")
  def r(c: String): Column = col(s"r.$c")

  /** Key-blocked candidate pairs: each row of `left` meets each row of
    * `right` that agrees with it on every `keys` column and passes every
    * `cond`, which names the two sides' columns through [[l]] and [[r]]
    * (`l(id) < r(id)` for unordered pairs, `=!=` for ordered ones). The
    * joined rows are projected to `out`. A pair that can meet in several
    * buckets needs a `distinct()` after; empty `keys` is the unblocked
    * nested-loop join. */
  def pairs(left: DataFrame, right: DataFrame, keys: Seq[String],
            cond: Column*)(out: Column*): DataFrame =
    left.alias("l").join(right.alias("r"),
        (keys.map(k => l(k) === r(k)) ++ cond).reduce(_ && _))
      .select(out: _*)

  /** Exact verify of a candidate pair set: `payload`'s `value` (one row
    * per `id`) joins onto both pair ids, `ids`, named `as`; the pairs
    * keep their own columns and gain `measure`, written over the two
    * `as` names. */
  def verify(cands: DataFrame, ids: (String, String), payload: DataFrame,
             id: String, value: String, as: (String, String))
            (measure: Column): DataFrame =
    cands
      .join(payload.select(col(id).as(ids._1), col(value).as(as._1)),
        Seq(ids._1))
      .join(payload.select(col(id).as(ids._2), col(value).as(as._2)),
        Seq(ids._2))
      .select(cands.columns.map(col) :+ measure: _*)

  /** The query rows of a top-k search, broadcast (queries are few): the
    * rows of `frame` whose `vec_id` is in `queryIds`, as `query_id` and
    * `cols`. */
  def queries(frame: DataFrame, queryIds: Seq[Long], cols: Column*): DataFrame =
    broadcast(frame.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id") +: cols: _*))

  /** The first `k` rows of each `group` in `order`, numbered from 1 in
    * `rankCol`. */
  def firstK(rows: DataFrame, group: String, k: Int, rankCol: String,
             order: Column*): DataFrame =
    rows.withColumn(rankCol,
        row_number().over(Window.partitionBy(group).orderBy(order: _*)))
      .where(col(rankCol) <= k)

  /** Each query's `k` best (query_id, neighbor_id, `score`) rows: `score`
    * descending, ties to the lower neighbor id. */
  private def perQuery(scored: DataFrame, score: String, k: Int,
                       rankCol: String): DataFrame =
    firstK(scored, "query_id", k, rankCol,
      col(score).desc, col("neighbor_id").asc)

  /** Per-query top-k of (query_id, neighbor_id, cosine) rows, as
    * (query_id, rank, neighbor_id, cosine). */
  def topK(scored: DataFrame, k: Int): DataFrame =
    perQuery(scored, "cosine", k, "rank")
      .select("query_id", "rank", "neighbor_id", "cosine")

  /** Exact re-rank behind a coarse ranking: each query's `cand` best
    * `coarse` rows by `score` meet the full vectors of `base` (the
    * candidate set broadcast, so the full-width corpus is touched only
    * for candidate rows) and are ranked by exact cosine to the top `k`. */
  def rerank(base: DataFrame, queryIds: Seq[Long], coarse: DataFrame,
             score: String, cand: Int, k: Int): DataFrame = {
    val cands = perQuery(coarse, score, cand, "crank")
      .select("query_id", "neighbor_id")
    topK(base.join(broadcast(cands), col("vec_id") === col("neighbor_id"))
        .join(queries(base, queryIds, col("embedding").as("qe")),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosineFixed(col("embedding"), col("qe")).as("cosine")),
      k)
  }
}
