package cmbench

import java.sql.Timestamp

import graft.ingest.{Ingest, Merger}
import graft.model.GraftStore
import graft.ops.{Admin, Aggregations, Consume, Formatters, Graph, Search}
import graft.pipeline.TextAnalysis
import graft.qp.{FilterCompiler, QpParser}
import graft.sparql.Sparql
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One generated operation: a template name and its string arguments, as
  * written by the workload generator (one tab-separated line each). */
final case class Op(id: Int, template: String, args: IndexedSeq[String])

object Op {
  def parse(line: String): Op = {
    val f = line.split("\t", -1).toIndexedSeq
    Op(f(0).toInt, f(1), f.drop(2))
  }
}

/** Everything an op needs: the session, the served store, the directory
  * of its source tables, the per-run writable clone (ingest ops only) and
  * the tracer. */
final class Ctx(val spark: SparkSession, val store: GraftStore,
                val data: String, val runDir: String,
                val cloneDir: Option[String], val tr: Tracer)

/** Executes ops against the engine's public functions. Each executor
  * returns the op's collected output rows; the benchmark checks them
  * against DuckDB after the timed phase. Span names are the per-layer
  * metric names. */
object Ops {
  private def path = col("system.path")

  def run(op: Op, c: Ctx): Seq[Row] = op.template match {
    case "read" => read(op, c)
    case "search" => search(op, c)
    case "agg" => agg(op, c)
    case "compound" => compound(op, c)
    case "format" => format(op, c)
    case "xg" => xg(op, c)
    case "yg" => yg(op, c)
    case "gqp" => gqp(op, c)
    case "sparql" => sparql(op, c)
    case "gremlin" => gremlin(op, c)
    case "ingest" => ingest(op, c)
    case "consume" => consume(op, c)
    case "text" => text(op, c)
    case t => throw new IllegalArgumentException(s"unknown op template $t")
  }

  private def collect(c: Ctx, name: String)(df: => DataFrame): Seq[Row] =
    c.tr.span(name)(df.collect().toSeq)

  /** qp search base. In the traced run the qp is also parsed and compiled
    * on its own first, which is how the qp layer is timed from outside. */
  private def base(c: Ctx, p: String, qp: String): DataFrame = {
    qpSpans(c, qp)
    Search.run(c.store, Search.Request(path = p,
      qp = Some(qp).filter(_.nonEmpty)))
  }

  private def qpSpans(c: Ctx, qp: String): Unit =
    if (c.tr.enabled && qp.nonEmpty) {
      val ast = c.tr.span("qp.parse")(QpParser.parse(qp))
      c.tr.span("qp.compile")(new FilterCompiler(c.store).compile(ast))
    }

  // args: comma-joined paths
  private def read(op: Op, c: Ctx): Seq[Row] = {
    val df = c.tr.span("search.call")(Search.read(c.store, op.args(0).split(',').toSeq))
    collect(c, "search.collect")(df.select(path, Search.fieldS("name"),
      Search.fieldN("acctbal"), Search.fieldN("totalprice")))
  }

  private def page(op: Op, c: Ctx): DataFrame = {
    // args: path, qp, sort key (-field desc), offset, length
    val Seq(p, qp, sort, off, len) = op.args.take(5)
    qpSpans(c, qp)
    c.tr.span("search.call")(Search.search(c.store,
      Search.Request(path = p, qp = Some(qp), sortBy = Some(sort)),
      off.toInt, len.toInt))
  }

  private def search(op: Op, c: Ctx): Seq[Row] = {
    val field = op.args(2).stripPrefix("-").stripPrefix("*")
    val df = page(op, c)
    collect(c, "search.collect")(df.select(path, Search.fieldN(field)))
  }

  // args: path, qp, kind, field, param
  private def agg(op: Op, c: Ctx): Seq[Row] = {
    val Seq(p, qp, kind, field, param) = op.args.take(5)
    val b = base(c, p, qp)
    val spec = kind match {
      case "term" => Aggregations.TermAgg("a", field, param.toInt)
      case "stats" => Aggregations.StatsAgg("a", field)
      case "hist" => Aggregations.HistAgg("a", field, param.toDouble)
      case "card" => Aggregations.CardAgg("a", field)
    }
    val df = c.tr.span("agg.call")(Aggregations.run(c.store, b, spec))
    collect(c, "agg.collect")(df)
  }

  // args: path, offset, length
  private def compound(op: Op, c: Ctx): Seq[Row] =
    c.tr.span("admin.compound") {
      Admin.compound(c.store, op.args(0), op.args(1).toInt, op.args(2).toInt)
        .select("child", "total").collect().toSeq
    }

  /** args: "jsonld" and the search page args, or "nt" and comma-joined
    * paths. N-Triples pages come from a point read: `Formatters.ntriples`
    * over a sorted `Search.search` page fails to resolve `_extract_path`
    * at this commit (an engine defect, recorded in the benchmark notes). */
  private def format(op: Op, c: Ctx): Seq[Row] = {
    val out = op.args(0) match {
      case "nt" => Formatters.ntriples(c.tr.span("search.call")(
        Search.read(c.store, op.args(1).split(',').toSeq)))
      case "jsonld" => Formatters.jsonldDocs(page(op.copy(args = op.args.drop(1)), c))
    }
    collect(c, "format.collect")(out)
  }

  // args: base path, base qp, expression
  private def xg(op: Op, c: Ctx): Seq[Row] = {
    val b = base(c, op.args(0), op.args(1))
    c.tr.span("graph.xg") {
      Graph.xg(c.store, b, Graph.parseXg(op.args(2), Graph.refFields(c.store)))
        .select(path).collect().toSeq
    }
  }

  // args: base path, base qp, expression (with `|` alternatives)
  private def yg(op: Op, c: Ctx): Seq[Row] = {
    val b = base(c, op.args(0), op.args(1))
    c.tr.span("graph.yg")(
      Graph.yg(c.store, b, op.args(2)).select(path).collect().toSeq)
  }

  // args: base path, base qp, expression
  private def gqp(op: Op, c: Ctx): Seq[Row] = {
    val b = base(c, op.args(0), op.args(1))
    c.tr.span("graph.gqp")(
      Graph.gqp(c.store, b, op.args(2)).select(path).collect().toSeq)
  }

  private def sparql(op: Op, c: Ctx): Seq[Row] = {
    val q = op.args(0)
    if (c.tr.enabled) c.tr.span("sparql.parse")(Sparql.parse(q))
    c.tr.span("sparql.select")(Sparql.select(c.store, q).collect().toSeq)
  }

  private def gremlin(op: Op, c: Ctx): Seq[Row] =
    c.tr.span("gremlin.eval")(
      graft.ops.Gremlin.eval(c.store, op.args(0)).collect().toSeq)

  /** args: N-Triples delta file (relative to the run dir), lastModified
    * epoch millis, comma-joined touched paths. Merges the delta into the
    * run's clone, then reads the touched paths back from it. */
  private def ingest(op: Op, c: Ctx): Seq[Row] = {
    val s = c.spark
    val dir = c.cloneDir.get
    val lines = s.read.textFile(s"${c.runDir}/${op.args(0)}")
    val ts = new Timestamp(op.args(1).toLong)
    val cmds = c.tr.span("ingest.commands")(Ingest.commands(s, lines, ts))
    c.tr.span("ingest.merge_pruned")(Merger.mergePruned(s, dir, cmds))
    c.tr.span("ingest.readback") {
      val disk = GraftStore.fromInfotons(s,
        s.read.parquet(s"$dir/infotons").drop("__parent"),
        Some(c.store.fieldTypes))
      disk.infotons.where(col("system.current") &&
          path.isin(op.args(2).split(',').toSeq: _*))
        .select(path, col("system.kind"), Search.fieldS("name"),
          Search.fieldN("acctbal"), Search.fieldN("totalprice"))
        .collect().toSeq
    }
  }

  /** args: path, qp, chunk size. Drains the slice with position tokens;
    * each output row is (chunk number, event_id, indexTime). */
  private def consume(op: Op, c: Ctx): Seq[Row] = {
    val chunkSize = op.args(2).toInt
    var token: Option[String] = Some(Consume.createConsumer(op.args(0),
      Some(op.args(1))))
    val out = Seq.newBuilder[Row]
    var n = 0
    var done = false
    while (!done && token.isDefined) {
      val rows = c.tr.span("consume.chunk") {
        val r = Consume.consume(c.store, token.get, chunkSize)
        token = r.nextToken
        done = r.exhausted
        r.chunk.select(Search.fieldN("event_id").cast("long"),
          col("system.indexTime")).collect()
      }
      rows.foreach(r => out += Row(n, r.getLong(0), r.getLong(1)))
      n += 1
    }
    out.result()
  }

  // args: doc id range [lo, hi); per-document quality signals
  private def text(op: Op, c: Ctx): Seq[Row] = {
    val docs = c.spark.read.parquet(s"${c.data}/documents.parquet").where(
      col("doc_id") >= op.args(0).toLong && col("doc_id") < op.args(1).toLong)
    c.tr.span("pipeline.text")(TextAnalysis.quality(docs).collect().toSeq)
  }
}
