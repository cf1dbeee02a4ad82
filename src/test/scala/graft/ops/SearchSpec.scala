package graft.ops

import graft.SparkSuite
import graft.model.{GraftStore, InfotonModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's request bounds (BASELINE.md: max offset 1000, max
  * length 10000, consume chunk 3000). */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** `n` infotons `/bulk/00000…` with one long field `k` = id; every
    * 700 consecutive ids share one `indexTime` (= id / 700 + 1; a new
    * consumer starts after indexTime 0), so a consume chunk boundary
    * falls inside a run of tied rows. */
  private def bulkStore(n: Int): GraftStore = {
    val inf = spark.range(n).select(
      struct(format_string("/bulk/%05d", col("id")).as("path"),
        lit("/bulk").as("parent"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("lastModified"),
        lit("u").as("lastModifiedBy"), col("id").cast("string").as("uuid"),
        lit("dc").as("dc"), (col("id") / 700 + 1).cast("long").as("indexTime"),
        lit(true).as("current"), lit(InfotonModel.KindObject).as("kind"),
        lit("http").as("protocol")).as("system"),
      map(lit("k"), array(struct(col("id").cast("string").as("s"),
        col("id").cast("double").as("n"), lit(null).cast("timestamp").as("t"),
        lit(null).cast("boolean").as("b"), lit(InfotonModel.TLong).as("vType"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("quad")))).as("fields"))
    GraftStore.fromInfotons(spark, inf, Some(Map("k" -> InfotonModel.TLong)))
  }
  private lazy val bulk = bulkStore(12000)

  private def pathsOf(df: DataFrame): Seq[String] =
    df.select("system.path").collect().map(_.getString(0)).toSeq

  test("search clamps an offset beyond 1000 to the offset-1000 page") {
    val req = Search.Request(path = "/bulk")
    val clamped = pathsOf(Search.search(bulk, req, offset = 5000, length = 10))
    val at1000 = pathsOf(Search.search(bulk, req, offset = 1000, length = 10))
    // lastModified ties everywhere, so the path tie-break orders rows
    assert(at1000 == (1000 until 1010).map(i => f"/bulk/$i%05d"))
    assert(clamped == at1000)
  }

  test("search clamps a length beyond 10000 to 10000 rows") {
    val req = Search.Request(path = "/bulk")
    assert(Search.run(bulk, req).count() == 12000)
    assert(Search.search(bulk, req, length = 20000).count() == 10000)
  }

  test("consume's default chunk sees 3000 rows and keeps the boundary ties") {
    val r = Consume.consume(bulk, Consume.createConsumer("/bulk"))
    assert(r.seen == 3000)
    // the 3000th row has indexTime 5 (ids 2800–3499): all 700 rows of
    // that indexTime are in the chunk, none after it
    val its = r.chunk.select("system.indexTime").collect().map(_.getLong(0))
    assert(its.length == 3500)
    assert(its.max == 5 && its.count(_ == 5) == 700)
    val next = Consume.consume(bulk, r.nextToken.get)
    assert(next.chunk.select(min("system.indexTime")).head().getLong(0) == 6)
  }
}
