package graft

import java.sql.Timestamp

import graft.ingest.Ingest
import graft.model.GraftStore
import graft.ops.{Aggregations, Caches, Search}
import graft.qp.ApParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WIDE-SCHEMA stress queries over the dynamic-fields path: the
  * reference's schema envelope is 25,000 dynamic fields per index
  * (`indices_template_new.json:25`, BASELINE.md), while every driver
  * table projects a FIXED per-table field map — so nothing in the
  * gated correctness surface previously proved that a
  * `map<string,array<struct>>` store with O(10k) distinct predicate
  * NAMES still searches and aggregates correctly (and within the same
  * cost class as a static-field analog).
  *
  * The corpus is synthesized deterministically from `orders` (the
  * searchStemmedRu pattern — the driver sf dirs carry no wide table):
  * each order row becomes a `/xw/<okey>` infoton with an
  * order-specific predicate `attr_<okey % 10000>` (10,000 distinct
  * field names at sf0.01+, each owned by 1-2 docs — the open-
  * vocabulary shape real CM-Well corpora carry, Infoton.scala's
  * arbitrary field map) holding the row's custkey as a TYPED long,
  * plus a shared `xbucket` field. Ingested through the REAL nt path
  * (typed-literal slot dispatch included), so the store's field-type
  * dictionary itself is 10k entries wide.
  *
  * The two declared reads are the width torture case: a typed range
  * filter and a stats aggregation each touching ONE key among 10k —
  * linear scans of the map column must not degrade with the number of
  * DISTINCT keys, only with row width. */
object XwideQueries {

  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

  /** One wide store per (session, dir): both reads share it. */
  private def wideStore(s: SparkSession, dir: String): GraftStore =
    Caches.perSession(s, s"xwide:$dir") {
      import s.implicits._
      val nt = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"))
        .as[(Long, Long)]
        .flatMap { case (okey, ckey) =>
          val p = s"cmwell://xw/$okey"
          Seq(
            s"""<$p> <x://vocab#attr_${okey % 10000}> "$ckey"""" +
              "^^<http://www.w3.org/2001/XMLSchema#long> .",
            s"""<$p> <x://vocab#xbucket> "b${okey % 7}" .""")
        }
      // the ingest's persisted delta IS the store's data: kept for
      // the session, not one query
      Caches.sessionLifetime(GraftStore.fromInfotons(s,
        Ingest.ingest(s, Ingest.emptyStore(s), nt, T0)))
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // typed range filter on ONE dynamic key among 10k (slot dispatch
    // must resolve attr_42 to its long slot through the 10k-entry
    // type dictionary; the scan prunes on the map key, not the width)
    "q_xwide_search" -> ((s, dir) =>
      Search.run(wideStore(s, dir),
          Search.Request(path = "/xw", qp = Some("attr_42>0")))
        .select(col("system.path").as("path")).orderBy("path")),

    // type:stats over one dynamic key among 10k — same ap surface as
    // q_agg_stats, schema width as the only variable
    "q_xwide_agg" -> ((s, dir) => {
      val store = wideStore(s, dir)
      val base = Search.run(store, Search.Request(path = "/xw"))
      Aggregations.run(store, base,
        ApParser.parse("type:stats,field::attr_42").head)
    }))

  val oracles: Map[String, String] = Map(
    "q_xwide_search" ->
      """SELECT '/xw/' || CAST(o_orderkey AS VARCHAR) AS path FROM orders
        |WHERE o_orderkey % 10000 = 42 AND o_custkey > 0
        |ORDER BY path""".stripMargin,
    "q_xwide_agg" ->
      """SELECT count(o_custkey) AS "count",
        |CAST(min(o_custkey) AS DOUBLE) AS "min",
        |CAST(max(o_custkey) AS DOUBLE) AS "max",
        |CAST(sum(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE) AS "sum",
        |CAST(sum(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(o_custkey) AS "avg"
        |FROM orders WHERE o_orderkey % 10000 = 42""".stripMargin)
}
