package graft.ops

import graft.model.InfotonModel._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output formatters (SURVEY.md §2.1) — every formatter is a pure
  * row→string projection (one codegen'd `select`, no shuffle), so a
  * 100 TB export is scan + write at full parallelism.
  *
  * Reference: cmwell-formats FormatExtractor.scala:21-76 dispatches to
  * JsonFormatter / CSVFormatter / RDFFormatter; nt/nq are the formats
  * the reference's own data-tools exchange, and the ones
  * [[graft.ingest.Rdf]] re-ingests (roundtrip-tested).
  */
object Formatters {

  /** N-Triples string-literal escaping. All five targets are literal
    * single characters, so this is `replace` (UTF8String substring
    * replace), not `regexp_replace` — the regex engine paid a Matcher +
    * StringBuffer per value per step, and the escape chain runs on
    * every emitted value of every formatter (measured ~2× on the
    * jsonld formatter projection, guide §1.2 per-task work). */
  private def ntEscape(c: Column): Column =
    replace(replace(replace(replace(
      replace(c, lit("\\"), lit("\\\\")),
      lit("\""), lit("\\\"")), lit("\n"), lit("\\n")),
      lit("\r"), lit("\\r")), lit("\t"), lit("\\t"))

  private val XsdByType = Map(
    TInt -> "int", TLong -> "long", TDouble -> "double", TFloat -> "float",
    TBool -> "boolean", TDate -> "dateTime")

  /** Path → subject IRI: `/a/b` + protocol `p` → `p://a/b`
    * (inverse of Rdf.iriToPath; reference RDFFormatter emits
    * `<protocol>://<path>`). */
  def pathToIri(protocol: Column, path: Column): Column =
    concat(protocol, lit(":/"), path)

  /** Field key → predicate IRI: a qualified key (`local.$nsHash`)
    * renders under its CLAIMED namespace, a bare key under the default
    * ont namespace. The claim table is resolved at plan time into a
    * literal map — a dictionary-scale lookup per row, the projection
    * stays one codegen'd select. */
  private def fieldIri(field: Column): Column = {
    val m = graft.qp.Namespaces.claimedIris
    if (m.isEmpty) concat(lit(graft.qp.Namespaces.DefaultNs), field)
    else coalesce(element_at(typedLit(m), field),
      concat(lit(graft.qp.Namespaces.DefaultNs), field))
  }

  /** Turtle predicate position: `ont:key` pname for bare keys, a full
    * `<iri>` for qualified keys (`$` and `.` aren't pname-safe). */
  private def ttlPred(key: Column): Column = {
    val m = graft.qp.Namespaces.claimedIris
    if (m.isEmpty) concat(lit("ont:"), key)
    else coalesce(
      concat(lit("<"), element_at(typedLit(m), key), lit(">")),
      concat(lit("ont:"), key))
  }

  /** RDF/XML element QName: `ont:key`, or the generated
    * `n<nsHash>:local` for qualified keys ([[rdfxmlWrap]] declares the
    * matching xmlns). */
  private def xmlName(key: Column): Column = {
    val m = graft.qp.Namespaces.claimedXmlNames
    if (m.isEmpty) concat(lit("ont:"), key)
    else coalesce(element_at(typedLit(m), key), concat(lit("ont:"), key))
  }

  private val xsdMap = map(XsdByType.flatMap { case (k, x) =>
    Seq(lit(k), lit(x)) }.toSeq: _*)

  /** Typed value struct → N-Triples/Turtle term text (shared by
    * nt/nq/ttl/trig). */
  private def objCol(protocol: Column, v: Column): Column = {
    val lit_ = concat(lit("\""), ntEscape(v.getField("s")), lit("\""))
    when(v.getField("vType") === TRef,
        concat(lit("<"), pathToIri(protocol, v.getField("s")), lit(">")))
      .when(v.getField("vType") === TString,
        when(v.getField("lang").isNotNull,
          concat(lit_, lit("@"), v.getField("lang"))).otherwise(lit_))
      .otherwise(concat(lit_, lit("^^<http://www.w3.org/2001/XMLSchema#"),
        element_at(xsdMap, v.getField("vType")), lit(">")))
  }

  /** One row per (infoton, field, value) — the statement-level view the
    * triple formatters project from. The nested columns are flattened
    * BEFORE the filter and the explodes: over a limited frame (a search
    * page, any `.limit`) nested-schema pruning otherwise rewrites the
    * `system` extractions under the generator into an attribute the
    * limit's child no longer produces (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    * `_extract_path`) — the same flat-helper-columns fix as
    * [[graft.ingest.Merger.overwrite]]. */
  private def exploded(infotons: DataFrame): DataFrame =
    infotons
      .select(col("system.protocol").as("protocol"),
        col("system.path").as("path"), col("fields"))
      .where(col("fields").isNotNull)
      .select(col("protocol"), col("path"),
        explode(col("fields")).as(Seq("field", "values")))
      .select(col("protocol"), col("path"), col("field"),
        explode(col("values")).as("v"))

  /** One N-Triples (or N-Quads, when the value carries a quad) line per
    * (infoton, field, value). Returns a single-column ("line") frame. */
  def ntriples(infotons: DataFrame): DataFrame =
    exploded(infotons).select(concat(
      lit("<"), pathToIri(col("protocol"), col("path")), lit("> "),
      lit("<"), fieldIri(col("field")), lit("> "),
      objCol(col("protocol"), col("v")),
      when(col("v.quad").isNotNull,
        concat(lit(" <"), col("v.quad"), lit(">"))).otherwise(lit("")),
      lit(" .")).as("line"))

  /** Turtle — subject-grouped, `;`/`,` lists, predicates under the ont:
    * prefix (reference RDFFormatter's ttl; prepend [[ttlHeader]]).
    * One "doc" row per infoton; valid N3 too ([[n3]]). */
  def ttl(infotons: DataFrame): DataFrame = {
    val fieldBlocks = transform(map_entries(col("fields")), e =>
      concat(lit("  "), ttlPred(e.getField("key")), lit(" "),
        array_join(transform(e.getField("value"),
          v => objCol(col("system.protocol"), v)), ", ")))
    infotons.where(col("fields").isNotNull)
      .select(concat(
        lit("<"), pathToIri(col("system.protocol"), col("system.path")),
        lit(">\n"), array_join(fieldBlocks, " ;\n"), lit(" .")).as("doc"))
  }

  val ttlHeader: String = "@prefix ont: <cmwell://ont#> .\n"

  /** N3 — the emitted Turtle subset is valid N3 (FormatExtractor lists
    * both; Jena serializes them near-identically for plain graphs). */
  def n3(infotons: DataFrame): DataFrame = ttl(infotons)

  /** TriG — named-graph form: quad-tagged values render inside a
    * `<graph> { … }` block (TriG allows repeated blocks per graph, so
    * this stays one codegen'd line per statement, no grouping shuffle);
    * default-graph values render as bare triples. */
  def trig(infotons: DataFrame): DataFrame = {
    val triple = concat(
      lit("<"), pathToIri(col("protocol"), col("path")), lit("> "),
      lit("<"), fieldIri(col("field")), lit("> "),
      objCol(col("protocol"), col("v")), lit(" ."))
    exploded(infotons).select(
      when(col("v.quad").isNotNull,
        concat(lit("<"), col("v.quad"), lit("> { "), triple, lit(" }")))
        .otherwise(triple).as("line"))
  }

  /** TriX — one `<triple>` XML element per statement; wrap with
    * [[trixWrap]]. */
  def trix(infotons: DataFrame): DataFrame = {
    val v = col("v")
    val obj =
      when(v.getField("vType") === TRef,
        concat(lit("<uri>"), pathToIri(col("protocol"), v.getField("s")),
          lit("</uri>")))
      .when(v.getField("vType") === TString,
        when(v.getField("lang").isNotNull,
          concat(lit("<plainLiteral xml:lang=\""), v.getField("lang"),
            lit("\">"), xmlEscape(v.getField("s")), lit("</plainLiteral>")))
        .otherwise(concat(lit("<plainLiteral>"), xmlEscape(v.getField("s")),
          lit("</plainLiteral>"))))
      .otherwise(concat(
        lit("<typedLiteral datatype=\"http://www.w3.org/2001/XMLSchema#"),
        element_at(xsdMap, v.getField("vType")), lit("\">"),
        xmlEscape(v.getField("s")), lit("</typedLiteral>")))
    val triple = concat(
      lit("<triple><uri>"), pathToIri(col("protocol"), col("path")),
      lit("</uri><uri>"), xmlEscape(fieldIri(col("field"))), lit("</uri>"),
      obj, lit("</triple>"))
    // TriX names graphs per <graph> block (leading <uri>), so each
    // statement gets its own block — quad-tagged values keep their graph.
    exploded(infotons).select(concat(
      lit("<graph>"),
      when(v.getField("quad").isNotNull,
        concat(lit("<uri>"), xmlEscape(v.getField("quad")), lit("</uri>")))
        .otherwise(lit("")),
      triple, lit("</graph>")).as("line"))
  }

  def trixWrap: (String, String) =
    ("""<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">""", "</TriX>")

  /** RDF/XML — one `<rdf:Description>` per infoton; wrap with
    * [[rdfxmlWrap]]. */
  def rdfxml(infotons: DataFrame): DataFrame = {
    def elem(key: Column, v: Column): Column = {
      val name = xmlName(key)
      when(v.getField("vType") === TRef,
        concat(lit("  <"), name, lit(" rdf:resource=\""),
          xmlAttrEscape(pathToIri(col("system.protocol"), v.getField("s"))),
          lit("\"/>")))
      .when(v.getField("vType") === TString,
        concat(lit("  <"), name,
          when(v.getField("lang").isNotNull,
            concat(lit(" xml:lang=\""), v.getField("lang"), lit("\"")))
            .otherwise(lit("")),
          lit(">"), xmlEscape(v.getField("s")),
          lit("</"), name, lit(">")))
      .otherwise(concat(lit("  <"), name,
        lit(" rdf:datatype=\"http://www.w3.org/2001/XMLSchema#"),
        element_at(xsdMap, v.getField("vType")), lit("\">"),
        xmlEscape(v.getField("s")), lit("</"), name, lit(">")))
    }
    val lines = flatten(transform(map_entries(col("fields")), e =>
      transform(e.getField("value"), v => elem(e.getField("key"), v))))
    infotons.where(col("fields").isNotNull)
      .select(concat(
        lit("<rdf:Description rdf:about=\""),
        xmlAttrEscape(pathToIri(col("system.protocol"), col("system.path"))),
        lit("\">\n"),
        array_join(lines, "\n"), lit("\n</rdf:Description>")).as("doc"))
  }

  def rdfxmlWrap: (String, String) = {
    val extra = graft.qp.Namespaces.claimedNamespaces.toSeq.sorted
      .map { case (h, ns) => s""" xmlns:n$h="${xmlEscapeStr(ns)}"""" }
      .mkString
    ("""<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ont="cmwell://ont#"""" +
      extra + ">",
      "</rdf:RDF>")
  }

  /** String-side attribute escaping for namespace IRIs in [[rdfxmlWrap]]. */
  private def xmlEscapeStr(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  /** JSON-LD — one expanded-form node object per infoton ("doc" rows);
    * [[graft.ingest.JsonLd]] re-ingests this shape (roundtrip-tested).
    * Per-value quads are not representable in a flat node object — use
    * nquads/trig for named-graph exchange. */
  def jsonldDocs(infotons: DataFrame): DataFrame = {
    def jstr(c: Column): Column = concat(lit("\""), jsonEscape(c), lit("\""))
    def one(v: Column): Column =
      when(v.getField("vType") === TRef,
        concat(lit("{\"@id\":"),
          jstr(pathToIri(col("system.protocol"), v.getField("s"))), lit("}")))
      .when(v.getField("vType") === TString,
        when(v.getField("lang").isNotNull,
          concat(lit("{\"@value\":"), jstr(v.getField("s")),
            lit(",\"@language\":"), jstr(v.getField("lang")), lit("}")))
        .otherwise(concat(lit("{\"@value\":"), jstr(v.getField("s")), lit("}"))))
      .otherwise(concat(lit("{\"@value\":"), jstr(v.getField("s")),
        lit(",\"@type\":\"http://www.w3.org/2001/XMLSchema#"),
        element_at(xsdMap, v.getField("vType")), lit("\"}")))
    val props = transform(map_entries(col("fields")), e =>
      concat(lit("\""), jsonEscape(fieldIri(e.getField("key"))), lit("\":["),
        array_join(transform(e.getField("value"), one(_)), ","), lit("]")))
    infotons.where(col("fields").isNotNull)
      .select(concat(
        lit("{\"@id\":"),
        jstr(pathToIri(col("system.protocol"), col("system.path"))),
        lit(","), array_join(props, ","), lit("}")).as("doc"))
  }

  /** JSON-LD quads ("jsonldq") — the named-graph-aware variant of
    * [[jsonldDocs]]: per infoton, untagged values render as a plain
    * node object and each distinct quad tag renders as
    * `{"@id": <graph>, "@graph": [node-with-that-graph's-values]}`,
    * all inside one top-level `@graph` array. Pure map/array ops per
    * row — no shuffle; [[graft.ingest.JsonLd]] re-ingests the shape
    * (named graph = `@id` + `@graph`, roundtrip-tested). */
  def jsonldqDocs(infotons: DataFrame): DataFrame = {
    def jstr(c: Column): Column = concat(lit("\""), jsonEscape(c), lit("\""))
    def one(v: Column): Column =
      when(v.getField("vType") === TRef,
        concat(lit("{\"@id\":"),
          jstr(pathToIri(col("system.protocol"), v.getField("s"))), lit("}")))
      .when(v.getField("vType") === TString,
        when(v.getField("lang").isNotNull,
          concat(lit("{\"@value\":"), jstr(v.getField("s")),
            lit(",\"@language\":"), jstr(v.getField("lang")), lit("}")))
        .otherwise(concat(lit("{\"@value\":"), jstr(v.getField("s")), lit("}"))))
      .otherwise(concat(lit("{\"@value\":"), jstr(v.getField("s")),
        lit(",\"@type\":\"http://www.w3.org/2001/XMLSchema#"),
        element_at(xsdMap, v.getField("vType")), lit("\"}")))
    val subj = jstr(pathToIri(col("system.protocol"), col("system.path")))
    // node object over the values passing `cond`; null when none do
    def nodeFor(cond: Column => Column): Column = {
      val props = filter(transform(map_entries(col("fields")), e => {
        val vals = filter(e.getField("value"), cond)
        when(size(vals) > 0,
          concat(lit("\""), jsonEscape(fieldIri(e.getField("key"))), lit("\":["),
            array_join(transform(vals, one(_)), ","), lit("]")))
      }), p => p.isNotNull)
      when(size(props) > 0,
        concat(lit("{\"@id\":"), subj, lit(","),
          array_join(props, ","), lit("}")))
    }
    val quads = array_distinct(flatten(transform(map_values(col("fields")),
      vs => transform(vs, v => v.getField("quad")))))
    // graph ids render as full IRIs (quad tags are stored path-form;
    // the parser's fail-loud iri() rejects bare paths)
    val graphBlocks = transform(filter(quads, _.isNotNull), g =>
      concat(lit("{\"@id\":"),
        jstr(pathToIri(col("system.protocol"), g)), lit(",\"@graph\":["),
        nodeFor(v => v.getField("quad") <=> g), lit("]}")))
    val parts = filter(
      concat(array(nodeFor(v => v.getField("quad").isNull)), graphBlocks),
      p => p.isNotNull)
    infotons.where(col("fields").isNotNull)
      .select(concat(lit("{\"@graph\":["), array_join(parts, ","),
        lit("]}")).as("doc"))
  }

  /** JSONP — the JSON response envelope wrapped in a callback
    * (FormatExtractor's jsonp). The callback name is validated as a
    * JS identifier path so a reflected payload can't escape the call. */
  def jsonp(page: DataFrame, total: Long, offset: Long, length: Long,
            callback: String, selfPath: String = "/"): String = {
    require(callback.matches("[A-Za-z_$][A-Za-z0-9_$]*(\\.[A-Za-z_$][A-Za-z0-9_$]*)*"),
      s"invalid JSONP callback '$callback'")
    s"$callback(${searchEnvelope(page, total, offset, length, selfPath)});"
  }

  /** The JSON response envelope every HTTP consumer parses
    * (SearchResults.scala:41-57, SearchResponse + PaginationInfo).
    * Page-bounded by the search clamps (≤ MaxLength rows), so the
    * collect is the page, never the result set. */
  def searchEnvelope(page: DataFrame, total: Long, offset: Long,
                     length: Long, selfPath: String = "/"): String = {
    val infotons = page
      .select(to_json(struct(col("system"), col("fields"))))
      .collect().map(_.getString(0))
    def link(off: Long) = s""""$selfPath?op=search&offset=$off&length=$length""""
    val lastOff = math.max(0L, (math.max(total, 1) - 1) / math.max(length, 1) * length)
    val prev = if (offset > 0) link(math.max(0, offset - length)) else "null"
    val next = if (offset + length < total) link(offset + length) else "null"
    s"""{"type":"SearchResponse","pagination":{"type":"PaginationInfo",""" +
      s""""first":${link(0)},"previous":$prev,"self":${link(offset)},""" +
      s""""next":$next,"last":${link(lastOff)}},""" +
      s""""results":{"type":"SearchResults","total":$total,"offset":$offset,""" +
      s""""length":${infotons.length},"infotons":[${infotons.mkString(",")}]}}"""
  }

  /** `format=text` — one path per line (FormatExtractor's text). */
  def text(infotons: DataFrame): DataFrame =
    infotons.select(col("system.path").as("line"))

  /** JSON-lines — one infoton per line (the reference's jsonl). */
  def jsonl(infotons: DataFrame): DataFrame =
    infotons.select(to_json(struct(col("system"), col("fields"))).as("line"))

  /** csv/tsv with an explicit column list (reference CSVFormatter
    * computes the union of field names; pass [[fieldNames]] for that).
    * First value per field, lexical form. */
  def csv(infotons: DataFrame, fields: Seq[String],
          sep: String = ","): DataFrame = {
    val cols = col("system.path") +: fields.map(f =>
      coalesce(element_at(col("fields").getItem(f), 1).getField("s"), lit("")))
    val quoted = cols.map(c =>
      when(c.contains(sep) || c.contains("\"") || c.contains("\n"),
        concat(lit("\""), replace(c, lit("\""), lit("\"\"")), lit("\"")))
        .otherwise(c))
    infotons.select(concat_ws(sep, quoted: _*).as("line"))
  }

  /** YAML — one document per infoton (reference YamlFormatter):
    * system block + fields with first-value lexical forms. */
  def yaml(infotons: DataFrame): DataFrame = {
    // coalesce each system field: a null (synthesized parents, /proc
    // virtual infotons) must still render its key — every document
    // keeps the same shape
    val sys = Seq("path", "parent", "uuid", "kind").map(f =>
      concat(lit(s"  $f: "), coalesce(col(s"system.$f"), lit(""))))
    val fieldLines = transform(map_entries(col("fields")),
      e => concat(lit("  "), e.getField("key"), lit(": "),
        e.getField("value").getItem(0).getField("s")))
    infotons.select(concat(
      lit("---\nsystem:\n"), concat_ws("\n", sys: _*),
      lit("\nfields:\n"),
      when(col("fields").isNotNull, array_join(fieldLines, "\n"))
        .otherwise(lit("")))
      .as("doc"))
  }

  /** Atom feed entries (reference AtomFormatter): one `<entry>` per
    * infoton; wrap with [[atomFeed]] head/tail for a full feed. */
  def atomEntries(infotons: DataFrame): DataFrame =
    infotons.select(concat(
      lit("<entry><id>"), xmlEscape(col("system.path")),
      lit("</id><title>"), xmlEscape(col("system.path")),
      lit("</title><updated>"),
      date_format(col("system.lastModified"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
      lit("</updated></entry>")).as("line"))

  def atomFeed(title: String): (String, String) =
    (s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      s"""<feed xmlns="http://www.w3.org/2005/Atom"><title>$title</title>""",
      "</feed>")

  private def xmlEscape(c: Column): Column =
    replace(replace(replace(c,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  /** Attribute-position escaping — text escaping plus the quote, since
    * attribute values are emitted inside `"…"` (an IRI containing `&`
    * or `"` must not break the element). */
  private def xmlAttrEscape(c: Column): Column =
    replace(xmlEscape(c), lit("\""), lit("&quot;"))

  /** JSON string escaping — ntEscape covers \\ \" \n \r \t; the
    * remaining C0 control characters (illegal bare in JSON) go to
    * \u00XX so a field value with e.g. 0x01 still parses. The 29-step
    * replace chain only runs on rows that actually contain a control
    * character (one rlike test) — real field values almost never do,
    * and the chain per value was a measured ~15% slowdown on the
    * jsonld roundtrip. */
  private def jsonEscape(c: Column): Column = {
    val basic = ntEscape(c)
    val rare = (0 until 0x20).filterNot(Set(0x09, 0x0a, 0x0d))
      .foldLeft(basic) { (acc, i) =>
        replace(acc, lit(i.toChar.toString), lit(f"\\u$i%04x"))
      }
    when(basic.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), rare)
      .otherwise(basic)
  }

  /** Union of field names over a frame — the csv header dictionary
    * (small: distinct predicate names, same cardinality class as the
    * reference's /meta/ns). */
  def fieldNames(infotons: DataFrame): Seq[String] =
    infotons.select(explode(map_keys(col("fields"))).as("f"))
      .distinct().orderBy("f").collect().map(_.getString(0)).toSeq
}
