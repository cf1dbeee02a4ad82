package graft.model

import graft.TempDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OPTIONAL dynamic-fields table (`xnodes.parquet` → /xnode
  * infotons whose predicates come from the data — the open-vocabulary
  * infoton shape and the hot-predicate probe lever). The driver's sf
  * dirs never carry it, so the oracle gate can't see this path; the
  * suite pins it instead: loading, reference typing, quad explosion,
  * graph/SPARQL reachability through a dynamic predicate, and the
  * absent-file no-op. */
class XnodesLoaderSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSuite.session
  private val Sf = "/root/testdata/sf0.001"

  /** Runs `body` on a copy of the sf0.001 tables plus an xnodes.parquet,
    * deleted when `body` returns. */
  private def withXnodesDir[T](body: String => T): T =
    TempDir("graft_xnodes_spec_") { d =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(Sf)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.copy(p,
          d.resolve(p.getFileName.toString)))
      import spark.implicits._
      // node 0: a hot predicate with TWO reference values + a string
      // predicate; node 1: a different vocabulary entirely
      Seq(
        (0L, Map("hotp" -> Seq("/customer/1", "/customer/2"),
                 "colour" -> Seq("teal"))),
        (1L, Map("widgetCount" -> Seq("7"))))
        .toDF("xid", "fields")
        .coalesce(1).write.mode("overwrite")
        .parquet(d.resolve("xnodes_tmp").toString)
      // the loader expects a FILE named xnodes.parquet
      val part = java.nio.file.Files.list(d.resolve("xnodes_tmp"))
        .iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, d.resolve("xnodes.parquet"))
      GraftStore.rmTree(d.resolve("xnodes_tmp").toFile)
      body(d.toString)
    }

  test("xnodes load as /xnode infotons with data-driven fields; " +
      "values opening '/' become references") {
    withXnodesDir { dir =>
      val inf = TableLoader.load(spark, dir)
      val x0 = inf.where(col("system.path") === "/xnode/0").head()
      val fields = x0.getAs[Map[String, scala.collection.Seq[
        org.apache.spark.sql.Row]]]("fields")
        .map { case (k, v) => k -> v.toSeq }
      assert(fields.keySet == Set("xid", "hotp", "colour"))
      assert(fields("hotp").map(_.getAs[String]("s")) ==
        Seq("/customer/1", "/customer/2"))
      assert(fields("hotp").forall(_.getAs[String]("vType") ==
        InfotonModel.TRef))
      assert(fields("colour").head.getAs[String]("vType") ==
        InfotonModel.TString)
      // parent synthesized like any other table directory
      assert(inf.where(col("system.path") === "/xnode").count() == 1)
    }
  }

  test("dynamic predicates reach the quad view and the SPARQL compiler") {
    withXnodesDir { dir =>
      val store = GraftStore.fromInfotons(spark,
        TableLoader.load(spark, dir), Some(TableLoader.fieldTypes))
      // multi-valued dynamic predicate explodes to one quad per value
      assert(store.quads.where(col("predicate") === "hotp").count() == 2)
      // BGP join THROUGH the dynamic reference into a static predicate
      val out = graft.sparql.Sparql.select(store,
        """PREFIX ont: <cmwell://ont#>
          |SELECT ?x ?n WHERE {
          |  ?x ont:hotp ?c .
          |  ?c ont:name ?n .
          |} ORDER BY ?n""".stripMargin)
      assert(out.count() == 2)
      assert(out.select("x").distinct().head().getString(0) == "/xnode/0")
      // variable-predicate pattern anchored on the xnode class sees the
      // data-driven vocabulary (the x_hot_group probe shape)
      val byPred = graft.sparql.Sparql.select(store,
        """PREFIX ont: <cmwell://ont#>
          |SELECT ?p WHERE { ?x ont:xid ?i . ?x ?p ?c . }
          |ORDER BY ?p""".stripMargin)
        .collect().map(_.getString(0)).toSeq
      assert(byPred.distinct == Seq("colour", "hotp", "widgetCount", "xid"))
    }
  }

  test("a dir without xnodes.parquet loads exactly as before") {
    val inf = TableLoader.load(spark, Sf)
    assert(inf.where(col("system.path").startsWith("/xnode")).count() == 0)
  }
}
