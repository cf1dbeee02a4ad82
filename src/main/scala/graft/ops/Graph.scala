package graft.ops

import graft.model.{GraftStore, InfotonModel}
import graft.qp.{FilterCompiler, QpParser}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Graph traversal operators — `xg` (expand out), `yg` (expand along a
  * path, both directions), `gqp` (path-existence filter). SURVEY.md
  * §2.3; reference eval: wsutil/package.scala:521-919 (`expandIn`,
  * `expandUp`, `deepExpandGraph`, `pathExpansionParser`, `gqpFilter`);
  * reference grammar: Parsers.scala:384-509 (`ExpandGraphParser`,
  * `PathGraphExpansionParser`).
  *
  * Grammar parity (reference Parsers.scala):
  *   xg  = jokers ">" levels | jokers | levels        (:447-450)
  *         jokers = [1-9] filter?                      (:441-445)
  *         levels = repsep(level, ">")                 (:437)
  *         level  = "_" filter? | repsep(field filter?, ",")  (:431-436)
  *   yg/gqp = repsep(path, "|")                        (:493)
  *         path   = rep(("<" | ">") repsep(field filter?, ","))  (:481-491)
  * Both parsers here are FULL-CONSUMPTION fail-loud (the reference uses
  * `parseAll` and rejects trailing input, Parsers.scala:452-463,
  * 499-508): trailing garbage, unbalanced brackets, or empty filters
  * throw instead of silently dropping hops. Field names may carry dots
  * and `$` (namespace-qualified keys, fieldRegex Parsers.scala:57) —
  * level separation is `>`, never `.`.
  *
  * Spark shape: every frontier step — an xg/yg/gqp level here, a
  * Gremlin vertex or edge pipe, a SPARQL `p+` round — is ONE [[hop]],
  * an equi-join of the frontier to the [[GraftStore.refEdges]] view.
  * A LEVEL costs one hop per distinct (direction, filter) group — a
  * comma field list or wildcard level shares a single predicate-pruned
  * quads scan (`isin` over the field set) instead of a union of
  * per-field joins:
  *   outgoing (`>f` / xg): frontier's reference values joined to
  *     infoton paths (the reference re-issues point lookups per uuid;
  *     here it's a single distributed hash join);
  *   incoming (`<f`): the reversed equi-join through the same view
  *     (find subjects whose field value IS a frontier path).
  * xg is the single-path case of yg (one level loop); gqp runs the
  * same level step with the origin carried.
  * `|` alternatives each expand from the ORIGINAL base (the reference
  * seeds every path with `infotons`, wsutil/package.scala:905-913) and
  * the reached sets union. Frontiers shrink fast in practice; AQE turns
  * the frontier side into a broadcast join at runtime when it fits,
  * which is exactly the behavior we want at 100 TB — no hand scheduling.
  *
  * The reference caps expansion at 10k retrieved infotons
  * (webservice.xg.limit, application.conf:71). The cap is enforced
  * only when requested (`limit=Some(n)`): analytics jobs run
  * unbounded and pay zero extra actions; interactive callers pass the
  * reference default and get the same abort semantics.
  */
object Graph {

  /** Direction of a [[hop]] over the reference-edge view. */
  private[graft] sealed trait Dir
  private[graft] case object Out extends Dir
  private[graft] case object In extends Dir
  private[graft] case object Both extends Dir

  /** The frontier ⋈ edge step of xg/yg/gqp, Gremlin and SPARQL paths:
    * joins each `frontier` row to the `edges` whose near end (`from`
    * for [[Out]], `to` for [[In]]) is its `p` and whose `scope`
    * columns (extra join keys: a closure inside `GRAPH ?g`) equal its
    * own. Returns the frontier's columns with `p` moved to the far
    * end, then the edge's non-scope columns; not distinct — callers
    * select and combine (distinct, per-head sums). [[Both]] joins the
    * frontier twice and Catalyst inlines it per reference, so it is
    * persisted ([[Caches]], frontier sized) to compute once. */
  private[graft] def hop(frontier: DataFrame, edges: DataFrame, dir: Dir,
                         scope: Seq[String] = Nil): DataFrame = {
    val fr = (if (dir == Both) Caches.persist(frontier) else frontier).alias("fr")
    val e = edges.alias("e")
    def along(near: String, far: String): DataFrame = {
      val on = scope.foldLeft(col(s"e.$near") === col("fr.p")) { (c, k) =>
        c && col(s"e.$k") === col(s"fr.$k")
      }
      e.join(fr, on).select(frontier.columns.map { c =>
        if (c == "p") col(s"e.$far").as("p") else col(s"fr.$c").as(c)
      } ++ edges.columns.filterNot(scope.contains).map(c => col(s"e.$c")): _*)
    }
    dir match {
      case Out => along("from", "to")
      case In => along("to", "from")
      case Both => along("from", "to").unionByName(along("to", "from"))
    }
  }

  /** One traversal hop: direction, reference field, optional qp filter
    * on the hop's targets (yg per-level filters, Parsers.scala:467-509). */
  final case class Hop(incoming: Boolean, field: String,
                       filter: Option[String] = None)

  /** A level is a same-direction field set (comma list / wildcard);
    * a path is a chain of levels; yg/gqp take `|`-separated paths. */
  type Level = Seq[Hop]
  type Path = Seq[Level]

  // ---------------------------------------------------------------- lexing

  private def isFieldChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || c == '$' || c == '-' ||
      c == '*' || c == '+'

  /** Split on `sep` at bracket depth 0, preserving empty segments;
    * rejects unbalanced brackets. */
  private def splitTop(s: String, sep: Char, ctx: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '[' => depth += 1; cur += '['
      case ']' =>
        depth -= 1
        require(depth >= 0, s"unbalanced ']' in '$ctx'")
        cur += ']'
      case c if c == sep && depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    require(depth == 0, s"unbalanced '[' in '$ctx'")
    out += cur.result()
    out.toSeq
  }

  /** One `field[filter]?` token — the filter bracket group must close at
    * the token's end (full consumption; empty filters are rejected like
    * the reference's "expansion filters must not be empty",
    * Parsers.scala:355-360). */
  private def fieldWithFilter(tok: String, ctx: String): (String, Option[String]) = {
    var i = 0
    if (tok.nonEmpty && tok(0) == '$') {
      // `$uri$` token (fullPredicateURI / uriPattern, Parsers.scala:
      // 110,362): consume through the closing '$' — URI chars like
      // ':' '/' '#' ';' are not plain field chars
      val close = tok.indexOf('$', 1)
      require(close > 1, s"unterminated '$$uri$$' field in '$tok' in '$ctx'")
      i = close + 1
    } else while (i < tok.length && isFieldChar(tok(i))) i += 1
    require(i > 0, s"expected field name at '$tok' in '$ctx'")
    val field = tok.substring(0, i)
    if (i == tok.length) (field, None)
    else {
      require(tok(i) == '[',
        s"trailing garbage '${tok.substring(i)}' after field '$field' in '$ctx'")
      var depth = 0
      var closesAt = -1
      var j = i
      while (j < tok.length && closesAt < 0) {
        if (tok(j) == '[') depth += 1
        else if (tok(j) == ']') { depth -= 1; if (depth == 0) closesAt = j }
        j += 1
      }
      require(closesAt == tok.length - 1,
        s"trailing garbage after filter of '$field' in '$ctx'")
      val inner = tok.substring(i + 1, tok.length - 1)
      require(inner.nonEmpty,
        s"empty expansion filter on '$field' in '$ctx' (expansion filters must not be empty)")
      (field, Some(inner))
    }
  }

  // ------------------------------------------------------------- yg / gqp

  /** Parse a yg/gqp expression into `|`-separated alternative paths of
    * `<`/`>` levels, each level a comma field list with optional
    * per-field `[qp]` filters (Parsers.scala:479-508). Empty alternative
    * paths (reference `rep` admits them) contribute nothing and are
    * dropped; at least one path must have hops. */
  def parsePaths(expr: String): Seq[Path] = {
    require(expr.nonEmpty, "yg/gqp: empty expression")
    val paths = splitTop(expr, '|', expr).map(parsePath(_, expr)).filter(_.nonEmpty)
    require(paths.nonEmpty, s"yg/gqp expression '$expr' has no hops")
    paths
  }

  private def parsePath(s: String, ctx: String): Path = {
    if (s.isEmpty) return Nil
    require(s(0) == '<' || s(0) == '>',
      s"bad yg/gqp path '$s' in '$ctx': must start with '<' or '>'")
    // level boundaries = depth-0 '<' / '>' (filters are bracketed, so a
    // depth-0 scan can't be fooled by qp range operators inside them)
    val starts = ArrayBuffer.empty[Int]
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '[' => depth += 1
        case ']' => depth -= 1; require(depth >= 0, s"unbalanced ']' in '$ctx'")
        case '<' | '>' if depth == 0 => starts += i
        case _ =>
      }
      i += 1
    }
    require(depth == 0, s"unbalanced '[' in '$ctx'")
    (starts :+ s.length).sliding(2).map { case ArrayBuffer(a, b) =>
      val incoming = s(a) == '<'
      val body = s.substring(a + 1, b)
      require(body.nonEmpty, s"empty hop '${s(a)}' in '$ctx'")
      splitTop(body, ',', ctx).map { tok =>
        require(tok.nonEmpty, s"empty field in comma list '$body' in '$ctx'")
        val (f, fo) = fieldWithFilter(tok, ctx)
        // the reference admits ns-wildcards only in the expandIn (`>`)
        // direction: filteredFields vs filteredFieldsExact,
        // Parsers.scala:481-489 — this covers BOTH wildcard spellings,
        // `*.prefix`/`*.$hash` and `$nsUri(#|/|;)*$`
        require(!(incoming && isNsWildcard(f)),
          s"ns-wildcard '$f' is not legal after '<' in '$ctx' (expandUp " +
            "takes exact fields, Parsers.scala:487)")
        Hop(incoming, f, fo)
      }
    }.toSeq
  }

  // ------------------------------------------------------------------- xg

  /** All reference-typed fields of a store — the expansion universe for
    * the `_` / digit xg forms, derived from the type dictionary so the
    * wildcard can never silently expand over zero fields. */
  def refFields(store: GraftStore): Seq[String] =
    store.fieldTypes.collect {
      case (f, t) if t == InfotonModel.TRef => f
    }.toSeq.sorted

  /** Parse an xg expression per the reference grammar
    * (Parsers.scala:384-465): `>`-separated levels, each either a comma
    * field list with per-field filters, or `_` (all reference fields)
    * with an optional shared filter; an optional leading single-digit
    * joker `N[filter]` = N wildcard levels. Empty input = one wildcard
    * level (Parsers.scala:453). Wildcard forms require a non-empty
    * reference-field universe (use `refFields(store)`); expanding over
    * zero fields would be a silent wrong answer. */
  def parseXg(expr: String, allRefFields: Seq[String]): Seq[Level] = {
    def wildcard(fOpt: Option[String]): Level = {
      require(allRefFields.nonEmpty,
        "xg wildcard needs the store's reference-field universe (Graph.refFields)")
      allRefFields.map(Hop(incoming = false, _, fOpt))
    }
    def parseLevel(seg: String): Level = {
      require(seg.nonEmpty, s"empty xg level in '$expr'")
      splitTop(seg, ',', expr) match {
        case Seq(single) =>
          val (f, fo) = fieldWithFilter(single, expr)
          if (f == "_") wildcard(fo) else Seq(Hop(incoming = false, f, fo))
        case toks => toks.map { tok =>
          require(tok.nonEmpty, s"empty field in comma list '$seg' in '$expr'")
          val (f, fo) = fieldWithFilter(tok, expr)
          // `_` is a whole-level wildcard only (level = "_" filter? |
          // fields, Parsers.scala:436); inside a comma list it would
          // be a silent match-nothing field — reject like parseAll does
          require(f != "_",
            s"'_' is not legal inside a comma field list ('$seg' in '$expr')")
          Hop(incoming = false, f, fo)
        }
      }
    }
    if (expr.isEmpty) Seq(wildcard(None))
    else {
      val segs = splitTop(expr, '>', expr)
      // leading joker: single digit 1-9 + optional filter (Parsers.scala:441-445)
      val (jokerLevels, rest) = {
        val (f, fo) = try fieldWithFilter(segs.head, expr) catch {
          case _: IllegalArgumentException => ("", None)
        }
        if (f.length == 1 && f(0) >= '1' && f(0) <= '9')
          (Seq.fill(f(0) - '0')(wildcard(fo)), segs.tail)
        else (Nil, segs)
      }
      jokerLevels ++ rest.map(parseLevel)
    }
  }

  // ------------------------------------------------------------ evaluation

  private def checkLimit(frontier: DataFrame, limit: Option[Int]): Unit =
    limit.foreach { l =>
      if (frontier.limit(l + 1).count() > l)
        throw new IllegalStateException(
          s"expansion exceeded limit $l (webservice.xg.limit semantics)")
    }

  /** `$nsUri(#|/|;)*$` — the uriPattern ns-wildcard spelling
    * (Parsers.scala:362-364): a `$`-delimited namespace URI whose last
    * path segment is `*` after a `#`/`/`/`;` separator. */
  private def isNsWildcard(f: String): Boolean =
    f.startsWith("*.") || (f.length > 4 && f.startsWith("$") &&
      f.endsWith("*$") && "#/;".contains(f(f.length - 3)))

  /** Expand ns-wildcard field tokens — `*.prefix` / `*.$nsHash`
    * (nsWildcardPattern, Parsers.scala:366-369) and the full-URI form
    * `$nsUri#*$` (uriPattern, :362-364) — to every canonical key
    * CLAIMED under that namespace; `$predicateUri$` resolves to its
    * single canonical key ([[graft.qp.Namespaces.resolve]], like the
    * reference's fullPredicateURI, :110); plain fields pass through
    * resolve too (dotted prefix/hash qualifiers). An unknown
    * prefix/hash/IRI fails loud (the qp resolution discipline: a typo
    * must not silently expand over nothing); a known namespace with
    * zero claims expands to no edges, the schemaless behavior. */
  private def expandNsWildcards(hops: Seq[Hop]): Seq[Hop] =
    hops.flatMap { h =>
      val f = h.field
      if (f.startsWith("*.")) {
        val q = f.drop(2)
        val ns =
          (if (q.startsWith("$")) graft.qp.Namespaces.uriOfHash(q.drop(1))
           else graft.qp.Namespaces.uriOfPrefix(q))
            .getOrElse(throw new IllegalArgumentException(
              s"unknown namespace in wildcard '$f'"))
        graft.qp.Namespaces.keysInNamespace(ns)
          .map(k => Hop(h.incoming, k, h.filter))
      } else if (isNsWildcard(f)) {
        // $nsUri(#|/|;)*$ → namespace URI = inner text minus the '*'
        // (separator kept, uriPattern's `uri.init`)
        val ns = f.substring(1, f.length - 2)
        require(graft.qp.Namespaces.isRegistered(ns),
          s"unknown namespace IRI '$ns' in wildcard '$f'")
        graft.qp.Namespaces.keysInNamespace(ns)
          .map(k => Hop(h.incoming, k, h.filter))
      } else Seq(Hop(h.incoming, graft.qp.Namespaces.resolve(f), h.filter))
    }

  private def paths(df: DataFrame): DataFrame =
    df.select(col("system.path").as("p")).distinct()

  /** xg — expand N levels outgoing from a search result; returns the
    * originals plus every expanded infoton (wsutil/package.scala:
    * 716-749). Each level may fan out over several fields. The
    * single-path case of [[yg]]. */
  def xg(store: GraftStore, base: DataFrame, levels: Seq[Level],
         limit: Option[Int] = None): DataFrame =
    expand(store, base, Seq(levels), limit)

  /** yg — chained path expansion (both directions, per-hop filters,
    * `|`-separated alternatives each seeded from the ORIGINAL base);
    * returns originals plus every infoton on a satisfied path
    * (wsutil/package.scala:850-919). */
  def yg(store: GraftStore, base: DataFrame, expr: String,
         limit: Option[Int] = None): DataFrame =
    expand(store, base, parsePaths(expr), limit)

  /** The xg/yg level loop: every alternative path expands level by
    * level from the base path-set; the result is the base plus every
    * level's targets. */
  private def expand(store: GraftStore, base: DataFrame, alts: Seq[Path],
                     limit: Option[Int]): DataFrame = {
    // the base path-set seeds EVERY alternative plus the reached
    // union, and each mid-path level feeds both the next hop and the
    // union; Catalyst inlines the subtree at each reference — persist
    // them ([[Caches]], path-set sized) so the (often heavy) base
    // search scan and each level's edge join run once, not once per
    // reference (measured 3× on a filtered /lineitem base); the last
    // level's targets feed only the union, so they stay unpersisted
    val basePaths = Caches.persist(paths(base))
    var reached = basePaths
    alts.foreach { path =>
      var frontier = basePaths
      path.zipWithIndex.foreach { case (level, i) =>
        val next0 = levelChain(store, frontier, level)
        checkLimit(next0, limit)
        val next =
          if (i < path.size - 1) Caches.persist(next0) else next0
        frontier = next
        // no per-level distinct on `reached`: the final left-semi join
        // ([[semiByPath]]) never duplicates store rows, so accumulated
        // duplicates are harmless — dropping the distinct removes one
        // Exchange per level (guide §2.4); the FRONTIER stays deduped
        // inside levelChain, which is what bounds fan-out growth
        reached = reached.union(next)
      }
    }
    semiByPath(store, reached)
  }

  /** gqp — keep only base infotons for which the FULL hop chain of at
    * least one `|` alternative exists; never adds to the result
    * (wsutil/package.scala:751-848). Implemented as origin-preserving
    * join chains (one per alternative) finished with one LEFT SEMI
    * JOIN over the unioned origins. */
  def gqp(store: GraftStore, base: DataFrame, expr: String): DataFrame = {
    val seed0 = base.select(col("system.path").as("origin"),
      col("system.path").as("p"))
    val alts = parsePaths(expr)
    // multiple `|` alternatives each chain from the seed — persist it
    // (path-pair sized) so the base scan isn't repeated per
    // alternative; a single-path gqp references it once and skips the
    // persist (the final semi join's base reference is the RESULT
    // rows themselves, which no persist of the seed can remove)
    val seed = if (alts.size > 1) Caches.persist(seed0) else seed0
    val origins = alts.map { path =>
      path.foldLeft(seed)(levelChain(store, _, _)).select("origin")
    }.reduce(_ union _).distinct()
    base.withColumn("__path", col("system.path"))
      .join(origins, col("__path") === col("origin"), "left_semi")
      .drop("__path")
  }

  /** One level: expand `chain` (col `p` plus carried columns — gqp's
    * `origin`) over the level's hops, grouped by (direction, filter)
    * so a comma list / wildcard level costs one [[hop]] per group, not
    * per field; a filter keeps the targets matching its qp. */
  private def levelChain(store: GraftStore, chain: DataFrame,
                         hops: Level): DataFrame = {
    val expanded = expandNsWildcards(hops)
    if (expanded.isEmpty) return chain.where(lit(false))
    expanded.groupBy(h => (h.incoming, h.filter)).map {
      case ((incoming, fOpt), hs) =>
        val nextAll = hop(chain, store.refEdges(hs.map(_.field)),
            if (incoming) In else Out)
          .select(chain.columns.map(col): _*)
        // targets LEFT SEMI matching paths: the semi shape that keeps
        // carried columns. Flat `fp` key: a semi join on the nested
        // `system.path` over union lineage trips Catalyst's
        // nested-column pruning (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
        fOpt.fold(nextAll.distinct()) { f =>
          val pred = new FilterCompiler(store).compile(QpParser.parse(f))
          nextAll.join(store.current.where(pred)
              .select(col("system.path").as("fp")),
            col("p") === col("fp"), "left_semi").distinct()
        }
    }.reduce(_ union _).distinct()
  }

  /** Current infotons whose path is in `reached` (col `p`) — keyed on a
    * FLAT projected column: a semi join on the nested `system.path`
    * over the union-built frontier lineage can hit Catalyst's
    * nested-pruning INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1. */
  private def semiByPath(store: GraftStore, reached: DataFrame): DataFrame =
    store.current.withColumn("__path", col("system.path"))
      .join(reached, col("__path") === col("p"), "left_semi")
      .drop("__path")
}
