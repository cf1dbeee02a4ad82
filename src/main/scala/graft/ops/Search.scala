package graft.ops

import graft.model.{GraftStore, InfotonModel}
import graft.qp.{FilterCompiler, QpParser}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** `op=search` — the main read path (reference lifecycle SURVEY.md §3.1:
  * Application.handleSearch → FTSService.search, FTSService.scala:
  * 208-315).
  *
  * Everything composes into one declarative plan: path filter + implicit
  * current/not-deleted filters + compiled qp predicate + sort +
  * offset/limit. Catalyst pushes the conjunction into the scan; the sort
  * only shuffles when a sort is actually requested.
  */
object Search {

  /** Operational limits from the reference's config (BASELINE.md). */
  object Limits {
    val MaxLength = 10000   // webservice.max-length
    val MaxOffset = 1000    // webservice.max-offset
    val DefaultLength = 10
    val ExpansionLimit = 10000 // webservice.xg.limit
  }

  final case class Request(
      path: String = "/",
      descendants: Boolean = true,   // recursive search under path
      qp: Option[String] = None,
      from: Option[String] = None,   // DatesFilter on system.lastModified
      to: Option[String] = None,
      sortBy: Option[String] = None, // default: -system.lastModified
      withHistory: Boolean = false,
      withDeleted: Boolean = false,
      // Contains (`:`) fallback: raw lowercase substring instead of the
      // default analyzed word-boundary phrase match (FilterCompiler)
      substringContains: Boolean = false,
      // Contains/_all analyzer chain: Standard (tokenize only, the
      // reference template's default) or English (stop words + stem)
      analyzer: graft.qp.TextAnalyzer = graft.qp.TextAnalyzer.Standard)

  /** PathFilter (FTSService.scala:856-864): non-recursive = direct
    * children (`system.parent == p`); recursive = hierarchy prefix
    * match on the path itself. */
  def pathPredicate(path: String, descendants: Boolean): Column = {
    val p = if (path == "/") "" else path.stripSuffix("/")
    if (!descendants) col("system.parent") === (if (p.isEmpty) "/" else p)
    else if (p.isEmpty) col("system.path") =!= "/"
    else col("system.path").startsWith(p + "/")
  }

  /** Full (unpaginated) filtered result as infoton rows. */
  def run(store: GraftStore, req: Request): DataFrame = {
    var pred = pathPredicate(req.path, req.descendants)
    if (!req.withHistory) pred = pred && col("system.current")
    if (!req.withDeleted)
      pred = pred && col("system.kind") =!= InfotonModel.KindDeleted
    req.from.foreach(f => pred = pred &&
      col("system.lastModified") >= to_timestamp(lit(f)))
    req.to.foreach(t => pred = pred &&
      col("system.lastModified") <= to_timestamp(lit(t)))
    req.qp.foreach { q =>
      pred = pred && new FilterCompiler(store, req.substringContains,
        req.analyzer).compile(QpParser.parse(q))
    }
    store.infotons.where(pred)
  }

  /** Sort keys → Columns. Data fields sort on the typed slot; ties are
    * broken by path so pagination is deterministic (the reference
    * defaults to `system.lastModified DESC`, FTSService.scala:302-314). */
  def sortColumns(store: GraftStore, sortBy: Option[String]): Seq[Column] = {
    val keys = sortBy.map(QpParser.parseSortBy)
      .getOrElse(Seq(("system.lastModified", false)))
    keys.flatMap { case (name0, asc) =>
      // `system.score` is ES relevance — in the reference it
      // contributes no field sort (FTSService treats score sort as
      // the engine's own ranking, a no-op for filter-only queries);
      // rows fall through to the deterministic path tie-break
      if (name0 == "system.score") None else Some {
      // sort keys accept the same namespace-qualified spellings as qp
      val name =
        if (name0.startsWith("system.")) name0
        else graft.qp.Namespaces.resolve(name0)
      // analyzed-only fields have no doc-values slot to sort on —
      // fail-loud like the reference's ES backend (same rule as
      // Aggregations.requireAggregatable)
      require(name.startsWith("system.") || !store.analyzedOnly(name),
        s"field '$name' is analyzed-only (no non-analyzed keyword " +
          "slot) — sorting requires a non-analyzed field")
      val c =
        if (name.startsWith("system.")) col(name)
        else store.vTypeOf(name) match {
          case Some(t) if t == "i" || t == "l" || t == "d" || t == "f" =>
            element_at(col("fields").getItem(name), 1).getField("n")
          case Some("w") =>
            element_at(col("fields").getItem(name), 1).getField("t")
          case _ =>
            element_at(col("fields").getItem(name), 1).getField("s")
        }
      if (asc) c.asc_nulls_last else c.desc_nulls_last
    } } :+ col("system.path").asc
  }

  /** search = run + sort + clamped pagination (Application.scala:
    * 2126-2145: offset ≤ 1000, length ≤ 10000, default 10). */
  def search(store: GraftStore, req: Request, offset: Int = 0,
             length: Int = Limits.DefaultLength): DataFrame = {
    val df = run(store, req).orderBy(sortColumns(store, req.sortBy): _*)
    val off = math.min(offset, Limits.MaxOffset)
    val len = math.min(length, Limits.MaxLength)
    (if (off > 0) df.offset(off) else df).limit(len)
  }

  /** `op=read` point read / `POST /_out` multi-get (Application.scala:
    * 2326; OutputHandler.scala:172): current versions of the exact
    * paths — pushed-down IN filters, the engine's point-lookup shape.
    *
    * One IN list per parent directory, OR-ed together, not one list
    * over all paths: Parquet turns an IN of more than
    * `spark.sql.parquet.pushdown.inFilterThreshold` (10) values into
    * one min/max range, and a range from `/customer/…` to
    * `/supplier/…` spans every directory that sorts between them
    * (`/lineitem`'s row groups included). Per directory, each list's
    * range stays inside its own directory's row groups.
    *
    * Each list is an `InSet` whatever its size. Catalyst turns only
    * lists of more than 10 values into one, and a shorter `In`
    * inlines its paths into the generated code, so every read would
    * compile new code; an `InSet` carries them as a reference set. */
  def read(store: GraftStore, paths: Seq[String]): DataFrame = {
    val path = ColumnBridge.expression(col("system.path"))
    val byDir = paths.distinct
      .groupBy(p => p.substring(0, math.max(p.lastIndexOf('/'), 0)))
      .values.toSeq.sortBy(_.head)
    store.current.where(byDir
      .map(ps => ColumnBridge.column(
        InSet(path, ps.map(UTF8String.fromString).toSet[Any])))
      .reduceOption(_ || _).getOrElse(lit(false)))
  }

  /** `op=stream` / `mstream` / `sstream` (Streams.scala:278-330): the
    * full filtered result as one distributed job — Spark's partitions
    * are the reference's per-shard scrolls, so all three variants are
    * the same plan here. */
  def stream(store: GraftStore, req: Request): DataFrame = run(store, req)

  /** LinkInfoton resolution (Infoton.scala:269-304): rows of kind
    * LinkInfoton are replaced by their `linkTo` target's current
    * version; non-links pass through. One equi-join on the link edge. */
  def resolveLinks(store: GraftStore, df: DataFrame): DataFrame = {
    val links = df.where(col("system.kind") === InfotonModel.KindLink)
      .select(fieldS("linkTo").as("__target"))
    // flat join key: a nested extraction in a self-derived semi join
    // can hit Catalyst's nested-pruning internal error
    val resolved = store.current
      .select(col("system"), col("fields"), col("system.path").as("__path"))
      .join(links, col("__path") === col("__target"), "left_semi")
      .select(col("system"), col("fields"))
    df.where(col("system.kind") =!= InfotonModel.KindLink)
      .unionByName(resolved)
  }

  /** listChildren — one level under a path (FTSService.scala:198-206). */
  def listChildren(store: GraftStore, path: String): DataFrame =
    run(store, Request(path = path, descendants = false))

  // ---- projection helpers (field → typed Column) -----------------------

  /** First value's lexical form — fine for single-valued fields. */
  def fieldS(name: String): Column =
    element_at(col("fields").getItem(name), 1).getField("s")
  def fieldN(name: String): Column =
    element_at(col("fields").getItem(name), 1).getField("n")
  def fieldT(name: String): Column =
    element_at(col("fields").getItem(name), 1).getField("t")

  /** `fields=` mask (Infoton.masked, Infoton.scala:215-218); mask
    * entries accept the namespace-qualified spellings. */
  def maskFields(df: DataFrame, mask: Seq[String]): DataFrame = {
    val keep = array(mask.map(m => lit(graft.qp.Namespaces.resolve(m))): _*)
    df.withColumn("fields",
      map_filter(col("fields"), (k, _) => array_contains(keep, k)))
  }
}
