package graft.ops

import graft.model.GraftStore
import graft.ops.Graph.{Both, Dir, In, Out}
import graft.qp.{FilterCompiler, Namespaces, QpParser}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Minimal Gremlin pipe layer over the quads view — the `_sp`
  * `Gremlin\n…` surface (SURVEY.md §2.3). The reference binds `g` to a
  * Blueprints adapter over the populated Jena model and evals Groovy
  * pipe chains through a script engine
  * (cmwell-plugin-gremlin/src/main/scala/cmwell/plugins/impl/
  * GremlinParser.scala:29-99, cmwell/blueprints/jena/JenaGraph.scala);
  * per-vertex object traversal like that serializes on the driver.
  * Spark-first re-expression: each pipe step compiles onto the store's
  * edge/property views as ONE equi-join or semi-join — vertex and edge
  * pipes are the xg/yg frontier step itself, [[Graph.hop]] (AQE
  * broadcasts the shrinking frontier side at runtime), so a pipe over
  * 100 TB is a short join chain, not a driver loop.
  *
  * Supported pipes — the chains the reference surface exercises:
  * {{{
  *   g.v("<path>")           start at one vertex (vertex id = path)
  *   g.V                     all vertices
  *   .out("f") / .out        forward over reference field(s); no arg =
  *                           every reference field (wildcard universe)
  *   .in("f")  / .in         reverse
  *   .both("f") / .both      union of both directions
  *   .has("prop", "value")   typed equality filter (same dispatch as
  *                           qp `prop::value` — numeric fields compare
  *                           numbers, not strings)
  *   .has("prop")            existence filter (qp `prop:` empty-value)
  *   .has("prop","gt","v")   typed comparator filter — gt/gte/lt/lte/
  *                           eq/neq (the Blueprints T.* comparators,
  *                           quoted; routed to qp > >> < << ::; neq =
  *                           property exists AND no value equals v)
  *   .hasNot("prop")         absence filter: every vertex without
  *                           the property, including a hop target
  *                           that has no infoton (no properties)
  *   .dedup()                distinct frontier (hops already dedup;
  *                           kept for chain compatibility)
  *   .limit(n)               first n vertices in id order (Gremlin's
  *                           stream order is undefined; id order makes
  *                           the pipe deterministic here)
  *   .outE("f") / .outE      vertex → EDGE frontier: edges leaving the
  *                           frontier (no arg = every reference field)
  *   .inE("f")  / .inE       edges entering the frontier
  *   .bothE("f") / .bothE    union of both edge directions
  *   .outV                   edge → vertex: each edge's SOURCE
  *   .inV                    edge → vertex: each edge's TARGET
  *   .label                  edge terminal: labels         → col `label`
  *   .id                     terminal: vertex ids → col `id`; on an
  *                           edge frontier, `outV-label->inV` composite
  *                           ids (JenaEdge.getId format)
  *   .values("prop")         terminal: property lexicals → col `value`
  *   .count()                terminal: row count         → col `count`
  *   .groupCount             terminal: per-vertex traversal-path
  *                           count → rows (id, n) (Gremlin 2's
  *                           GroupCountPipe map; hops preserve
  *                           multiplicity — see [[evalGroupCount]])
  *   .as("x")                name the current step: the frontier
  *                           carries each row's vertex at x alongside
  *                           (per-path, like gqp's origin threading)
  *   .back("x")              rewind to the vertices the SURVIVING rows
  *                           had at .as("x") — filters applied after x
  *                           keep constraining, the emitted frontier is
  *                           the ancestor set (Gremlin 2 BackFilterPipe)
  *   .order                  sort the stream by natural (id) order
  *                           (Gremlin 2 OrderPipe, no-closure form).
  *                           Spark only preserves a sort through
  *                           projections/limits, so only limit/id/
  *                           select/label may follow — fail loud
  *                           otherwise rather than silently unordered
  *   .select                 terminal: one column per named (.as)
  *                           step, in naming order (Gremlin 2
  *                           SelectPipe, no-args form)
  *   .simplePath             drop traversal paths that revisit a
  *                           vertex (Gremlin 2 SimplePathFilterPipe);
  *                           routes through the trail-threading
  *                           evaluator — composes with .path, or ends
  *                           as the implicit id terminal
  *   .aggregate("b")         snapshot the current vertex set into
  *                           named bag b; stream continues unchanged.
  *                           DIALECT NOTE (intentional divergence):
  *                           Gremlin 2's AggregatePipe fills a caller-
  *                           supplied Collection object — no string
  *                           overload exists — and except/retain with
  *                           STRINGS refer to named .as steps with
  *                           per-path equality semantics. Here the
  *                           string names a GLOBAL bag (the relational
  *                           re-expression: a lineage snapshot, no
  *                           driver-side collection). Re-using a bag
  *                           name APPENDS (union), matching the
  *                           one-Collection accumulation of the
  *                           original.
  *   .except("b")            bag name → drop vertices present in bag b
  *                           (ExceptFilterPipe → anti-join); a string
  *                           naming a live .as step instead applies
  *                           Gremlin 2's NAMED-STEP overload — drop
  *                           rows whose head equals the vertex the
  *                           same path held at .as("b") (per-path
  *                           equality, a codegen'd column compare).
  *                           A bag wins when both exist; a name that
  *                           is neither fails loud.
  *   .retain("b")            the dual: keep vertices present in bag b
  *                           (RetainFilterPipe → semi-join), or keep
  *                           rows whose head == the .as("b") vertex
  *   .filter{it.p op lit}    the mechanically-translatable closure
  *                           subset: desugars onto .has(p, cmp, lit)'s
  *                           typed comparators (op: == != > >= < <=;
  *                           it.getProperty("p") accepted;
  *                           &&-conjunctions of such comparisons
  *                           desugar to consecutive has steps — exact,
  *                           filters compose conjunctively). Closure
  *                           != follows GROOVY null semantics (a
  *                           property-less vertex passes — null is
  *                           unequal), unlike has(p,"neq",v)'s
  *                           Blueprints T.neq (exists-gated); ordering
  *                           ops are existence-gated on both surfaces
  *                           (null does not order). Any other closure
  *                           body (||, method calls, state) needs the
  *                           reference's Groovy engine and FAILS LOUD.
  *   .transform{it.p}        the pure-projection TransformPipe subset:
  *                           it → identity, it.id → the id terminal,
  *                           it.prop / it.getProperty("p") → the
  *                           .values(prop) pipe. Computed bodies
  *                           (concat, arithmetic, calls) FAIL LOUD.
  *   .loop("x", n)           BOUNDED loop: repeat the pipes since
  *                           .as("x") so the segment runs n times total
  *                           (n a literal 1-20; desugars to n-1 extra
  *                           copies of the hop joins — no driver
  *                           iteration). .loop(k, n) counts k pipes
  *                           back instead of a label. The reference
  *                           evals closure loops via its Groovy script
  *                           engine; closures / missing counts are
  *                           unbounded here and FAIL LOUD.
  * }}}
  * A chain without an explicit terminal ends as `.id`. Edges carry NO
  * properties (reference JenaEdge.getProperty throws "RDF Edge has no
  * Props"), so has/hasNot/values on an edge frontier fail loud, as do
  * vertex hops without an interposed inV/outV. Unknown pipes and
  * malformed chains fail loud — parity with the reference's
  * `[ Gremlin Syntax Error ]`, minus the silent string swallow.
  */
object Gremlin {

  private[ops] sealed trait Step
  private[ops] final case class Start(id: Option[String]) extends Step
  private[ops] final case class Hop(dir: Dir, field: Option[String]) extends Step
  private[ops] final case class HopE(dir: Dir, field: Option[String]) extends Step
  private[ops] final case class VertexOf(in: Boolean) extends Step
  private[ops] case object LabelStep extends Step
  private[ops] case object PathStep extends Step
  private[ops] case object GroupCountStep extends Step
  private[ops] case object OrderStep extends Step
  private[ops] case object SelectStep extends Step
  private[ops] case object SimplePathStep extends Step
  private[ops] final case class AggregateStep(bag: String) extends Step
  private[ops] final case class ExceptStep(bag: String) extends Step
  private[ops] final case class RetainStep(bag: String) extends Step
  /** `.has` / `.hasNot`: a filter on the head vertex ([[headFilter]]). */
  private[ops] sealed trait HeadFilter extends Step
  private[ops] final case class Has(prop: String, cmp: String,
                                    value: Option[String]) extends HeadFilter
  private[ops] final case class HasNot(prop: String) extends HeadFilter
  private[ops] final case class Values(prop: String) extends Step
  private[ops] final case class Limit(n: Int) extends Step
  private[ops] case object DedupStep extends Step
  private[ops] case object Id extends Step
  private[ops] case object Count extends Step
  private[ops] final case class As(label: String) extends Step
  private[ops] final case class Back(label: String) extends Step
  private[ops] final case class Loop(target: Either[Int, String],
                                     times: Int) extends Step

  /** Parse `g.v("/a").out("f").has("p","v").values("n")` into steps.
    * Quoted args must not contain `)` (the reference's own start-node
    * extraction regex has the same shape, GremlinParser.scala:44).
    * A `{...}` closure body is recognized ONLY on `.filter` and only
    * for the mechanically-translatable comparison shape (see
    * [[parseFilterClosure]]); every other closure needs the
    * reference's Groovy script engine and fails loud. */
  private[ops] def parse(query: String): Seq[Step] = {
    val q = query.trim
    require(q == "g" || q.startsWith("g."),
      s"gremlin chain must start at g: '$query'")
    val step =
      """\.\s*([A-Za-z]+)\s*(?:\(\s*([^)]*?)\s*\)|\{([^}]*)\})?""".r
    val consumed = step.findAllMatchIn(q.drop(1)).map(_.matched.length).sum
    require(1 + consumed == q.length,
      s"gremlin syntax error at char ${1 + consumed}: '$query'")
    // full-consumption arg tokenizer: comma-separated quoted strings
    // or bare integers (Gremlin never quotes counts/numeric
    // comparands: limit(5), has("acctbal","gt",500)); anything else —
    // stray characters, trailing commas, mixed garbage — fails loud,
    // never a silent drop. Bare ints cap at 9 digits so toInt is safe.
    def args(raw: String): Seq[String] = {
      val r = raw.trim
      if (r.isEmpty) return Seq.empty
      val item = java.util.regex.Pattern.compile(
        "\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"|(\\d{1,9}))\\s*(,|$)")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      var sawComma = false
      while (pos < r.length) {
        val m = item.matcher(r)
        m.region(pos, r.length)
        if (!m.lookingAt()) throw new IllegalArgumentException(
          s"gremlin syntax error: bad arguments ($raw)")
        out += (if (m.group(1) != null)
          m.group(1).replaceAll("\\\\(.)", "$1") else m.group(2))
        sawComma = m.group(3) == ","
        pos = m.end()
      }
      if (sawComma) throw new IllegalArgumentException(
        s"gremlin syntax error: trailing comma ($raw)")
      out.toSeq
    }
    step.findAllMatchIn(q.drop(1)).flatMap { m =>
      val closure = Option(m.group(3))
      val (name, as) = (m.group(1), args(Option(m.group(2)).getOrElse("")))
      if (closure.isDefined) {
        if (name == "filter") parseFilterClosure(closure.get, query)
        else if (name == "transform") parseTransformClosure(closure.get, query)
        else throw new IllegalArgumentException(
          s"gremlin syntax error: .$name{${closure.get}} closures need " +
            s"the reference's Groovy engine — unsupported in '$query'")
      } else Seq[Step]((name, as) match {
        // .filter with a parenthesized arg is not a Gremlin 2 form
        case ("filter", _) => throw new IllegalArgumentException(
          "gremlin syntax error: .filter takes a closure " +
            s"(.filter{it.prop op literal}) in '$query'")
        case ("v", Seq(id)) => Start(Some(id))
        case ("V", Seq()) => Start(None)
        case ("out", Seq()) => Hop(Out, None)
        case ("out", Seq(f)) => Hop(Out, Some(f))
        case ("in", Seq()) => Hop(In, None)
        case ("in", Seq(f)) => Hop(In, Some(f))
        case ("both", Seq()) => Hop(Both, None)
        case ("both", Seq(f)) => Hop(Both, Some(f))
        case ("outE", Seq()) => HopE(Out, None)
        case ("outE", Seq(f)) => HopE(Out, Some(f))
        case ("inE", Seq()) => HopE(In, None)
        case ("inE", Seq(f)) => HopE(In, Some(f))
        case ("bothE", Seq()) => HopE(Both, None)
        case ("bothE", Seq(f)) => HopE(Both, Some(f))
        case ("outV", Seq()) => VertexOf(in = false)
        case ("inV", Seq()) => VertexOf(in = true)
        case ("label", Seq()) => LabelStep
        case ("path", Seq()) => PathStep
        case ("has", Seq(p)) => Has(p, "exists", None)
        case ("has", Seq(p, v)) => Has(p, "eq", Some(v))
        case ("has", Seq(p, op, v))
          if Set("gt", "gte", "lt", "lte", "eq", "neq")(op) =>
          Has(p, op, Some(v))
        case ("hasNot", Seq(p)) => HasNot(p)
        // nonEmpty + 9-digit cap: a quoted "" or an 11-digit literal
        // must hit the loud syntax error below, not NumberFormatException
        case ("limit", Seq(n))
          if n.nonEmpty && n.length <= 9 && n.forall(_.isDigit) => Limit(n.toInt)
        case ("dedup", Seq()) => DedupStep
        case ("as", Seq(l)) if l.nonEmpty => As(l)
        case ("back", Seq(l)) if l.nonEmpty => Back(l)
        // bounded loops only: a literal total-iteration count 1-20 (the
        // segment desugars to repeated hop joins — the cap bounds plan
        // size). The count is REQUIRED: the reference's closure loops
        // (`loop(1){it.loops<3}`) need its Groovy engine; without a
        // bound the desugaring would be unbounded — fail loud.
        case ("loop", Seq(t, n))
          if n.nonEmpty && n.length <= 2 && n.forall(_.isDigit) &&
            n.toInt >= 1 && n.toInt <= 20 =>
          Loop(if (t.nonEmpty && t.forall(_.isDigit)) Left(t.toInt)
               else Right(t), n.toInt)
        case ("loop", badArgs) => throw new IllegalArgumentException(
          "gremlin syntax error: unbounded .loop(" +
            badArgs.mkString(",") + ") unsupported — use " +
            ".loop(label|k, n) with a literal iteration count 1-20")
        case ("values", Seq(p)) => Values(p)
        case ("property", Seq(p)) => Values(p) // Blueprints alias
        case ("id", Seq()) => Id
        case ("count", Seq()) => Count
        case ("groupCount", Seq()) => GroupCountStep
        case ("order", Seq()) => OrderStep
        case ("select", Seq()) => SelectStep
        case ("simplePath", Seq()) => SimplePathStep
        case ("aggregate", Seq(b)) if b.nonEmpty => AggregateStep(b)
        case ("except", Seq(b)) if b.nonEmpty => ExceptStep(b)
        case ("retain", Seq(b)) if b.nonEmpty => RetainStep(b)
        case other => throw new IllegalArgumentException(
          s"gremlin syntax error: unsupported pipe .$name(${as.mkString(",")})")
      })
    }.toSeq
  }

  /** The mechanically-translatable `.transform{...}` subset
    * (Gremlin 2 TransformPipe): pure property projections —
    * `transform{it}` is the identity (no step), `transform{it.id}` is
    * the id terminal, and `transform{it.prop}` /
    * `transform{it.getProperty("p")}` is exactly the `.values(prop)`
    * pipe (Groovy resolves `it.prop` on a Blueprints element to
    * getProperty). Anything computed — string concat, arithmetic,
    * method calls — is genuinely programmatic and needs the
    * reference's Groovy engine (GremlinParser.scala:29-99): fail
    * loud, never silently approximate. */
  private[ops] def parseTransformClosure(body: String,
                                         query: String): Seq[Step] = {
    val b = body.trim
    if (b == "it") return Seq.empty
    // the bare `it.name` form takes UNDOTTED names only: a dot there
    // is indistinguishable from a chained Groovy accessor
    // (it.name.bytes), which is genuinely programmatic and must fail
    // loud, not silently probe a nonexistent dotted field. Dotted /
    // namespace-qualified property spellings use the EXPLICIT
    // getProperty("local.prefix") form, which also disambiguates a
    // property literally named "id" from the element-id terminal
    // (only bare `it.id` is the terminal).
    val pat = java.util.regex.Pattern.compile(
      """^it\s*\.\s*(?:getProperty\(\s*"([^"]+)"\s*\)|([A-Za-z_][\w\-#$]*))$""")
    val m = pat.matcher(b)
    if (!m.matches()) throw new IllegalArgumentException(
      s"gremlin syntax error: .transform{$b} is not a pure property " +
        "projection (it / it.id / it.<prop> / it.getProperty(\"p\"); " +
        "dotted names only via getProperty) — programmatic closures " +
        s"need the reference's Groovy engine, unsupported in '$query'")
    val explicit = Option(m.group(1))
    explicit match {
      case Some(p) => Seq(Values(p))
      case None =>
        val prop = m.group(2)
        if (prop == "id") Seq(Id) else Seq(Values(prop))
    }
  }

  /** The mechanically-translatable `.filter{...}` subset: closures of
    * the shape `it.<prop> <op> <literal>` (op one of == != > >= < <=,
    * literal a quoted string or a number) desugar onto the SAME typed
    * comparators `.has(prop, cmp, v)` compiles to — the qp filter
    * compiler's slot dispatch, so numeric fields compare as numbers.
    * `it.getProperty("p")` is accepted as an alias for `it.p` (both
    * are live Blueprints spellings).
    *
    * Groovy REGEX tests translate too: `it.p ==~ /re/` (full match,
    * Groovy `Pattern.matches`) and `it.p =~ /re/` (truthy find), plus
    * their parenthesized negations `!(it.p ==~ /re/)` — all desugar
    * to `rlike` on the string value slot, and since Groovy regexes
    * ARE java.util.regex (exactly what Spark's RLike runs), the
    * pattern language carries over verbatim. `==~` anchors via
    * `^(?:re)$`; `=~` is RLike's native find. Bare `!~` is NOT Groovy
    * (the reference's GremlinGroovyScriptEngine throws a syntax
    * error on it) so it fails loud here too. Missing properties:
    * Groovy would NPE inside the closure (getProperty → null), so
    * both polarities are existence-gated — the same convention the
    * ordering comparators use.
    *
    * This narrows the fail-loud
    * closure domain to genuinely programmatic bodies (`it.loops < 3`,
    * side effects, method calls…), which only the reference's Groovy
    * script engine (GremlinParser.scala:29-99) can run — those still
    * fail loud, never silently approximate. */
  private[ops] def parseFilterClosure(body: String,
                                      query: String): Seq[Step] = {
    // && splits OUTSIDE quoted literals only — a quoted "&&" is data.
    // Conjuncts desugar to consecutive Has steps (filters compose
    // conjunctively in a pipe chain, so this is exact, not an
    // approximation). Disjunction (||) stays untranslated: a per-row
    // OR across different property slots has no has-pipe equivalent.
    val conjuncts = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inQ = false; var i = 0
      val b = body.trim
      while (i < b.length) {
        val c = b.charAt(i)
        if (c == '"' && (i == 0 || b.charAt(i - 1) != '\\')) inQ = !inQ
        if (!inQ && c == '&' && i + 1 < b.length && b.charAt(i + 1) == '&') {
          out += cur.result(); cur.clear(); i += 2
        } else { cur += c; i += 1 }
      }
      out += cur.result()
      out.toSeq.map(_.trim)
    }
    // bare `it.name` takes UNDOTTED names only (same rule as
    // parseTransformClosure: a dot is indistinguishable from a
    // chained Groovy accessor, which must fail loud); dotted /
    // ns-qualified spellings use the explicit getProperty form
    val pat = java.util.regex.Pattern.compile(
      """^it\s*\.\s*(?:getProperty\(\s*"([^"]+)"\s*\)|([A-Za-z_][\w\-#$]*))\s*""" +
        """(==|!=|>=|<=|>|<)\s*(?:"((?:[^"\\]|\\.)*)"|(-?\d+(?:\.\d+)?))$""")
    // Groovy slashy-regex tests; negation is the parenthesized Groovy
    // form (bare !~ is not a Groovy operator — fail loud like the
    // reference's script engine does)
    val rpat = java.util.regex.Pattern.compile(
      """^(!\s*\(\s*)?it\s*\.\s*(?:getProperty\(\s*"([^"]+)"\s*\)|([A-Za-z_][\w\-#$]*))\s*""" +
        """(==~|=~)\s*/((?:[^/\\]|\\.)*)/\s*(\))?\s*$""")
    conjuncts.map { c =>
      val rm = rpat.matcher(c)
      if (rm.matches() && (rm.group(1) == null) == (rm.group(6) == null)) {
        val prop = Option(rm.group(2)).getOrElse(rm.group(3))
        // slashy-string unescape: \/ is the ONE Groovy-level escape
        // (a literal slash); every other backslash is regex syntax
        // and must reach the engine untouched
        val re = rm.group(5).replace("\\/", "/")
        val neg = rm.group(1) != null
        val full = rm.group(4) == "==~"
        val cmp = (if (neg) "nregex" else "regex") +
          (if (full) "_full" else "_find")
        Has(prop, cmp, Some(re))
      } else parseComparatorConjunct(c, pat, body, query)
    }
  }

  private def parseComparatorConjunct(c: String,
      pat: java.util.regex.Pattern, body: String, query: String): Step = {
      val m = pat.matcher(c)
      if (!m.matches()) throw new IllegalArgumentException(
        s"gremlin syntax error: .filter{${body.trim}} is not of the " +
          s"translatable shape it.<prop> <op> <literal> " +
          s"[&& ...] (or a slashy-regex test) — programmatic closures " +
          s"need the reference's " +
          s"Groovy engine, unsupported in '$query'")
      val prop = Option(m.group(1)).getOrElse(m.group(2))
      val v = Option(m.group(4))
        .map(_.replaceAll("\\\\(.)", "$1")).getOrElse(m.group(5))
      val cmp = m.group(3) match {
        case "==" => "eq"
        // Groovy closure semantics: null != lit is TRUE — a vertex
        // without the property passes (unlike Blueprints T.neq, which
        // the has() pipe keeps). Ordering comparisons stay
        // existence-gated on both surfaces: null does not order.
        case "!=" => "neq_unbound"
        case ">"  => "gt"
        case ">=" => "gte"
        case "<"  => "lt"
        case "<=" => "lte"
      }
      Has(prop, cmp, Some(v))
  }

  /** Desugar every bounded [[Loop]] into repeated copies of its
    * segment (the pipes since the named/counted position) — loops
    * compile to n-1 extra hop-join levels, so evaluation stays a
    * declarative join chain with no driver iteration. Segments must be
    * vertex pipes only (hops/filters/dedup): edge pipes, terminals and
    * nested as/back inside a segment fail loud. */
  private[ops] def expandLoops(steps: Seq[Step], query: String): Seq[Step] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Step]
    steps.foreach {
      case Loop(target, times) =>
        val from = target match {
          case Right(label) =>
            val i = out.lastIndexOf(As(label))
            require(i >= 0, s"gremlin syntax error: .loop target " +
              s"'$label' has no preceding .as in '$query'")
            i + 1
          case Left(k) =>
            require(k >= 1 && k < out.size, s"gremlin syntax error: " +
              s".loop($k, ...) reaches past the chain start in '$query'")
            out.size - k
        }
        val segment = out.slice(from, out.size).toSeq
        require(segment.nonEmpty,
          s"gremlin syntax error: empty .loop segment in '$query'")
        require(segment.forall {
          case _: Hop | _: Has | _: HasNot | DedupStep => true
          case _ => false
        }, "gremlin syntax error: .loop segment must contain only " +
          s"vertex pipes (out/in/both/has/hasNot/dedup) in '$query'")
        for (_ <- 2 to times) out ++= segment
      case s => out += s
    }
    out.toSeq
  }

  /** Evaluate a pipe chain against a store. Non-terminal steps thread a
    * frontier of vertex ids in column `p`, plus one carry column per
    * live `.as` name (each row = a (head, named-ancestors) path — the
    * same origin-threading shape as gqp); the terminal projects it.
    * A `.path` terminal switches to the trail-threading evaluator
    * ([[evalPath]]). */
  def eval(store: GraftStore, query: String): DataFrame = {
    val steps = expandLoops(parse(query), query)
    require(steps.nonEmpty && steps.head.isInstanceOf[Start],
      s"gremlin chain must start with g.v(...)/g.V: '$query'")
    if (steps.contains(PathStep) || steps.contains(SimplePathStep))
      return evalPath(store, steps, query)
    if (steps.contains(GroupCountStep))
      return evalGroupCount(store, steps, query)
    // .order sorts the RELATIONAL stream; Spark only preserves a sort
    // through projections and limits (any join would re-shuffle it
    // away), so pipes after .order are restricted to the
    // order-preserving set — anything else fails loud rather than
    // silently emitting unordered rows
    steps.indexOf(OrderStep) match {
      case -1 => ()
      case oi => require(steps.drop(oi + 1).forall {
        case (_: Limit) | Id | SelectStep | LabelStep => true
        case _ => false
      }, "gremlin syntax error: only order-preserving pipes " +
        s"(limit/id/select/label) may follow .order in '$query'")
    }
    var frontier = seed(store, steps.head)
    var terminal: Option[DataFrame] = None
    // live .as carry columns (insertion-ordered): __as_<label> rides
    // every vertex hop so .back can rewind surviving rows
    var carries: Vector[String] = Vector.empty
    // named bags (.aggregate): head-vertex-set snapshots that later
    // .except/.retain filter against via anti/semi joins
    var bags: Map[String, DataFrame] = Map.empty
    // edge-frontier mode (outE/inE/bothE): Some(from,label,to) until an
    // inV/outV collapses it back to vertices. Vertex-only pipes on an
    // edge frontier fail loud (reference: RDF edges carry no props).
    var edges: Option[DataFrame] = None
    def requireVertexMode(pipe: String): Unit =
      require(edges.isEmpty,
        s"gremlin syntax error: .$pipe needs a vertex frontier " +
          s"(insert .inV/.outV after an edge pipe) in '$query'")
    def requireEdgeMode(pipe: String): Unit =
      require(edges.nonEmpty,
        s"gremlin syntax error: .$pipe needs an edge frontier " +
          s"(.outE/.inE/.bothE) in '$query'")
    // the composite edge id, also the edge-frontier SORT key: .order/
    // .limit sort by the exact expression .id emits so the visible
    // stream order always matches the id order ((from,label,to) tuple
    // order can disagree with it when one `from` is a strict prefix
    // of another)
    val edgeOrder = concat(col("from"), lit("-"), col("label"),
      lit("->"), col("to"))
    val edgeId = edgeOrder.as("id")
    steps.tail.foreach { s =>
      require(terminal.isEmpty,
        s"gremlin syntax error: pipe after terminal in '$query'")
      s match {
        case HopE(dir, field) =>
          requireVertexMode(field.fold("outE/inE/bothE")(f => s"outE($f)"))
          require(carries.isEmpty, "gremlin syntax error: edge pipes " +
            s"do not compose with live .as names (use .back first) in '$query'")
          edges = Some(Graph.hop(frontier, edgesOf(store, field), dir)
            .select("from", "label", "to").distinct())
        case VertexOf(in) =>
          requireEdgeMode(if (in) "inV" else "outV")
          // Blueprints orientation: outV = edge source, inV = target
          frontier = edges.get
            .select(col(if (in) "to" else "from").as("p")).distinct()
          edges = None
        case LabelStep =>
          requireEdgeMode("label")
          terminal = Some(edges.get.select(col("label")))
        case Hop(dir, field) =>
          requireVertexMode("out/in/both")
          frontier = vertexHop(store, frontier, dir, field).distinct()
        case f: Has =>
          requireVertexMode("has") // RDF Edge has no Props (JenaEdge)
          frontier = headFilter(store, frontier, f, query)
        case f: HasNot =>
          requireVertexMode("hasNot")
          frontier = headFilter(store, frontier, f, query)
        case Values(prop) =>
          requireVertexMode("values")
          val canonical = Namespaces.resolve(prop)
          terminal = Some(store.quads
            .where(col("current") && col("predicate") === canonical)
            .join(frontier, col("subject") === col("p"), "left_semi")
            .select(col("s").as("value")))
        case Limit(n) =>
          // deterministic order in both modes (Gremlin stream order is
          // undefined; composite edge id mirrors the vertex id order;
          // carry columns tie-break duplicate heads)
          edges match {
            case Some(e) => edges = Some(e.orderBy(edgeOrder).limit(n))
            case None => frontier = frontier
              .orderBy((col("p") +: carries.map(col)): _*).limit(n)
          }
        case As(label) =>
          requireVertexMode("as")
          val cname = s"__as_$label"
          frontier = frontier.withColumn(cname, col("p"))
          if (!carries.contains(cname)) carries :+= cname
        case Back(label) =>
          requireVertexMode("back")
          val cname = s"__as_$label"
          require(carries.contains(cname), s"gremlin syntax error: " +
            s".back target '$label' has no preceding .as in '$query'")
          val keep = carries.filterNot(_ == cname)
          frontier = frontier
            .select((col(cname).as("p") +: keep.map(col)): _*).distinct()
          carries = keep
        case DedupStep =>
          edges match {
            case Some(e) => edges = Some(e.distinct())
            case None    => frontier = frontier.distinct()
          }
        case AggregateStep(bag) =>
          // Gremlin 2 AggregatePipe: snapshot the current head-vertex
          // set into a named bag; the stream continues unchanged. The
          // snapshot is a DataFrame lineage, not a driver collect —
          // later except/retain joins against it distribute normally.
          // Re-using a bag name APPENDS into the same collection
          // (Gremlin 2's aggregate fills one backing Collection), so
          // the second snapshot unions with the first instead of
          // silently replacing it
          requireVertexMode("aggregate")
          // the snapshot forks the stream: the chain prefix feeds both
          // the bag and the continuing frontier — persist so the
          // prefix (often several hop joins) computes once
          frontier = Caches.persist(frontier)
          val snap = frontier.select(col("p")).distinct()
          bags += bag -> bags.get(bag)
            .fold(snap)(_.unionByName(snap).distinct())
        case ExceptStep(bag) =>
          // Gremlin 2 ExceptFilterPipe: over a named BAG it is an
          // anti-join; when the string names a live .as step instead
          // (Gremlin 2's except(String...) named-step overload), the
          // comparison is PER PATH — drop rows whose current head
          // equals the vertex this row held at .as(name). A name that
          // is both a bag and a live .as resolves to the bag (this
          // dialect's string-bag precedence, see the header note);
          // a name that is neither still fails loud.
          requireVertexMode("except")
          if (bags.contains(bag))
            frontier = frontier.join(
              bags(bag).select(col("p").as("fp")),
              col("p") === col("fp"), "left_anti")
          else {
            require(carries.contains(s"__as_$bag"),
              s"gremlin syntax error: .except '$bag' names neither a " +
                s"bag (.aggregate) nor a live .as step in '$query'")
            frontier = frontier.where(col("p") =!= col(s"__as_$bag"))
          }
        case RetainStep(bag) =>
          // Gremlin 2 RetainFilterPipe — the dual: semi-join against a
          // bag, per-path head == .as(name) equality for a named step
          requireVertexMode("retain")
          if (bags.contains(bag))
            frontier = frontier.join(
              bags(bag).select(col("p").as("fp")),
              col("p") === col("fp"), "left_semi")
          else {
            require(carries.contains(s"__as_$bag"),
              s"gremlin syntax error: .retain '$bag' names neither a " +
                s"bag (.aggregate) nor a live .as step in '$query'")
            frontier = frontier.where(col("p") === col(s"__as_$bag"))
          }
        case OrderStep =>
          // Gremlin 2 OrderPipe, no-closure form: natural (id) order of
          // the current stream; carries tie-break duplicate heads so
          // the emitted order is total and deterministic
          edges match {
            case Some(e) => edges = Some(e.orderBy(edgeOrder))
            case None => frontier = frontier
              .orderBy((col("p") +: carries.map(col)): _*)
          }
        case SelectStep =>
          // Gremlin 2 SelectPipe, no-args form: one column per named
          // (.as) step, in naming order — the head vertex itself is
          // only emitted if it was named
          requireVertexMode("select")
          require(carries.nonEmpty, "gremlin syntax error: .select " +
            s"needs at least one preceding .as name in '$query'")
          terminal = Some(frontier.select(
            carries.map(c => col(c).as(c.stripPrefix("__as_"))): _*))
        case Id =>
          terminal = Some(edges.fold(frontier.select(col("p").as("id")))(
            _.select(edgeId)))
        case Count =>
          terminal = Some(edges.getOrElse(frontier)
            .agg(count(lit(1)).as("count")))
        case _: Start => throw new IllegalArgumentException(
          s"gremlin syntax error: g.v/g.V mid-chain in '$query'")
        // Loop is desugared by expandLoops and PathStep early-returns
        // to evalPath before this loop — neither can appear here
        case other => throw new IllegalStateException(
          s"unreachable pipe $other in '$query'")
      }
    }
    terminal.getOrElse(
      edges.fold(frontier.select(col("p").as("id")))(_.select(edgeId)))
  }

  /** `.path` evaluator — each frontier row carries its full visited
    * trail (Gremlin 2's PathPipe over vertex chains; the reference
    * runs it via the Blueprints pipeline). The trail rides the hop
    * joins as an array column and renders as a `>`-joined string so
    * results stay relational (and oracle-comparable). Filters are
    * LEFT SEMI/ANTI joins keyed on the head vertex — the trail
    * columns pass through untouched. Edge pipes and property
    * terminals don't compose with `.path` here and fail loud; `.path`
    * must be the terminal. */
  private def evalPath(store: GraftStore, steps: Seq[Step],
                       query: String): DataFrame = {
    require(steps.count(_ == PathStep) <= 1 &&
      (!steps.contains(PathStep) || steps.last == PathStep),
      s"gremlin syntax error: .path must be the single terminal in '$query'")
    var fr = seed(store, steps.head, array(col("system.path")).as("trail"))
    // explicit terminals (.path / .id) are handled after the fold; a
    // chain ending in any other pipe gets the implicit id terminal, so
    // only strip the last step when it IS an explicit terminal
    val body = steps.last match {
      case PathStep | Id => steps.tail.init
      case _             => steps.tail
    }
    body.foreach {
      case Hop(dir, field) =>
        fr = vertexHop(store, fr, dir, field)
          .withColumn("trail", concat(col("trail"), array(col("p"))))
          .distinct()
      case f: HeadFilter => fr = headFilter(store, fr, f, query)
      case DedupStep => fr = fr.distinct()
      case SimplePathStep =>
        // Gremlin 2 SimplePathFilterPipe: drop traversal paths that
        // revisit a vertex — pure per-row array predicate, no shuffle
        fr = fr.where(size(array_distinct(col("trail"))) ===
          size(col("trail")))
      case Limit(n) =>
        fr = fr.withColumn("__ord", array_join(col("trail"), ">"))
          .orderBy("__ord").limit(n).drop("__ord")
      case other => throw new IllegalArgumentException(
        s"gremlin syntax error: .path does not compose with " +
          s"$other in '$query' (vertex chains only)")
    }
    if (steps.last == PathStep)
      fr.select(array_join(col("trail"), ">").as("path"))
    else
      // a .simplePath chain without a .path terminal emits the head
      // vertex set (implicit id terminal, id-frontier dedup semantics)
      fr.select(col("p").as("id")).distinct()
  }

  /** The start vertices as a frontier `p` plus seed `carry` columns;
    * a missing id is an empty pipe (Blueprints getVertex). */
  private def seed(store: GraftStore, start: Step, carry: Column*): DataFrame = {
    val base = start match {
      case Start(Some(id)) => store.current.where(col("system.path") === id)
      case Start(None) => store.current
      case _ => throw new IllegalStateException("unreachable")
    }
    base.select(col("system.path").as("p") +: carry: _*)
  }

  /** Edges over `field`, or over every reference field (no-arg pipe). */
  private def edgesOf(store: GraftStore, field: Option[String]): DataFrame = {
    val fields = field.map(Seq(_)).getOrElse(Graph.refFields(store))
    require(fields.nonEmpty, "hop over empty reference-field universe")
    store.refEdges(fields)
  }

  /** A vertex pipe (.out/.in/.both): the frontier's columns with `p`
    * at each edge's far end; each evaluator combines them its own way. */
  private def vertexHop(store: GraftStore, frontier: DataFrame, dir: Dir,
                        field: Option[String]): DataFrame =
    Graph.hop(frontier, edgesOf(store, field), dir)
      .select(frontier.columns.map(col): _*)

  /** `.has` / `.hasNot` as a LEFT SEMI / ANTI join of the frontier
    * (carried columns pass through) on `p` against the vertices with
    * the property. `.out` emits refs to deleted or never-written paths
    * as vertices; they have no properties, so `.hasNot` keeps them. */
  private def headFilter(store: GraftStore, frontier: DataFrame,
                         step: HeadFilter, query: String): DataFrame = {
    val (pred, how) = step match {
      // same typed dispatch as the qp operators — reuse the filter
      // compiler instead of re-deriving slot routing
      case Has(prop, cmp, vOpt) =>
        (hasPredicate(store, prop, cmp, vOpt, query), "left_semi")
      case HasNot(prop) =>
        (new FilterCompiler(store).compile(QpParser.parse(s"$prop:")), "left_anti")
    }
    frontier.join(store.current.where(pred).select(col("system.path").as("fp")),
      col("p") === col("fp"), how)
  }

  /** Shared `.has` → qp predicate compilation (Blueprints T.*
    * comparators routed through the typed filter compiler; neq =
    * property exists with a differing value). */
  private def hasPredicate(store: GraftStore, prop: String, cmp: String,
      vOpt: Option[String], query: String): org.apache.spark.sql.Column = {
    // closure regex tests bypass the qp route (qp has no regex
    // operator): rlike directly on the string value slot — Groovy
    // regexes ARE java.util.regex, which is exactly what RLike runs,
    // so the pattern carries over verbatim and stays codegen'd.
    // Existence-gated in both polarities (Groovy NPEs on a missing
    // property — see parseFilterClosure).
    if (cmp == "regex_full" || cmp == "regex_find" ||
        cmp == "nregex_full" || cmp == "nregex_find") {
      val re0 = vOpt.getOrElse(throw new IllegalArgumentException(
        s"gremlin syntax error: regex comparator without a pattern in '$query'"))
      // ==~ is Groovy Pattern.matches (whole string); RLike is find,
      // so anchor through a non-capturing group. \A/\z, not ^/$ —
      // Java's $ also matches before a final line terminator, so a
      // value with a trailing newline would full-match under ^...$
      // where Pattern.matches (the semantics being emulated) does not.
      val re = if (cmp.endsWith("_full")) "\\A(?:" + re0 + ")\\z" else re0
      val canonical = Namespaces.resolve(prop)
      val arr = col("fields").getItem(canonical)
      val anyMatch = exists(arr, x => x.getField("s").rlike(re))
      val existsP = arr.isNotNull && size(arr) > 0
      return if (cmp.startsWith("n")) existsP && !anyMatch
             else existsP && anyMatch
    }
    // the literal is DATA, never qp syntax: quote it (qp's
    // double-quoted form, backslash-escaping) so a comma/bracket in a
    // has/filter value compares as itself instead of silently
    // re-parsing as a qp conjunction
    def q(v: String) =
      "\"" + v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      } + "\""
    val qpExpr = (cmp, vOpt) match {
      case ("exists", None) => s"$prop:"
      case ("eq", Some(v))  => s"$prop::${q(v)}"
      case ("neq", Some(v)) => s"$prop::${q(v)}"
      // the CLOSURE spelling of != (Groovy `it.p != lit`): null is
      // unequal, so a property-less vertex passes — qp's MustNot has
      // exactly that missing-field-keeps-the-row convention. The
      // has(p,"neq",v) Blueprints form above stays exists-gated (T.neq
      // matches nothing on a missing property) — two live dialects,
      // each matched to its surface.
      case ("neq_unbound", Some(v)) => s"-$prop::${q(v)}"
      case ("gt", Some(v))  => s"$prop>${q(v)}"
      case ("gte", Some(v)) => s"$prop>>${q(v)}"
      case ("lt", Some(v))  => s"$prop<${q(v)}"
      case ("lte", Some(v)) => s"$prop<<${q(v)}"
      case other => throw new IllegalArgumentException(
        s"gremlin syntax error: has comparator $other in '$query'")
    }
    val pred0 = new FilterCompiler(store).compile(QpParser.parse(qpExpr))
    if (cmp == "neq")
      new FilterCompiler(store).compile(QpParser.parse(s"$prop:")) && !pred0
    else pred0
  }

  /** `.groupCount` evaluator — Gremlin 2's GroupCountPipe over vertex
    * chains: counts how many traversal paths END at each vertex, so
    * hops must PRESERVE multiplicity (the id-frontier evaluator
    * dedups after every hop). Spark-first shape: the frontier carries
    * a count column and every hop is one equi-join followed by
    * `groupBy(head).sum(cnt)` — partial (map-side) aggregation keeps
    * each shuffle bounded by the frontier's DISTINCT vertex set, so a
    * 100 TB chain is a short sequence of pre-aggregated joins, never
    * a path-materializing explosion. Filters are semi/anti joins on
    * the head (counts ride through); `.dedup` collapses multiplicity
    * back to 1 (its stream meaning); `.limit` takes the first n
    * heads in id order. Edge pipes / as / back / property terminals
    * don't compose with `.groupCount` here and fail loud; it must be
    * the terminal. Output rows (id, n) = the reference's
    * groupCount map entries. */
  private def evalGroupCount(store: GraftStore, steps: Seq[Step],
                             query: String): DataFrame = {
    require(steps.last == GroupCountStep &&
      steps.count(_ == GroupCountStep) == 1,
      s"gremlin syntax error: .groupCount must be the single terminal " +
        s"in '$query'")
    var fr = seed(store, steps.head, lit(1L).as("cnt"))
    steps.tail.init.foreach {
      case Hop(dir, field) =>
        fr = vertexHop(store, fr, dir, field)
          .groupBy("p").agg(sum("cnt").as("cnt"))
      case f: HeadFilter => fr = headFilter(store, fr, f, query)
      case DedupStep =>
        fr = fr.select(col("p")).distinct().withColumn("cnt", lit(1L))
      case Limit(n) => fr = fr.orderBy(col("p")).limit(n)
      case other => throw new IllegalArgumentException(
        s"gremlin syntax error: .groupCount does not compose with " +
          s"$other in '$query' (vertex chains only)")
    }
    fr.select(col("p").as("id"), col("cnt").as("n"))
  }
}
