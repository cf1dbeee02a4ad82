package graft.sparql

import graft.ingest.Rdf
import graft.qp.Namespaces
import graft.model.{GraftStore, InfotonModel}
import graft.ops.{Caches, Graph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL SELECT/CONSTRUCT over the store — the `_sp`/`_sparql` query
  * surface (SURVEY.md §2.3, §3.3).
  *
  * Reference: SpHandler.scala:360-475 populates a Jena model and runs
  * ARQ; the whole-graph `_sparql` variant compiles each BGP triple
  * pattern to index lookups with hand-rolled cardinality ordering
  * (JenaArqExtensions.scala:66-170, TripleStore.scala:45-130).
  *
  * Spark-first shape: the `quads` view IS the triple store, so a BGP
  * compiles directly to relational algebra — each triple pattern is a
  * predicate-filtered scan of `quads`, shared variables become equi-join
  * keys, OPTIONAL is a left outer join, UNION a `unionByName`
  * (allowMissingColumns: branch-only variables go null, the SPARQL
  * unbound semantics), FILTER a `where`, sequence property paths
  * desugar to join chains through fresh variables, aggregates compile
  * to a `groupBy` over the solution frame. Catalyst + AQE then do what
  * the reference's SortingAndMappingStageGenerator hand-rolls: join
  * reordering by observed cardinality. No Jena, no collect — a BGP over
  * 100 TB of quads is just an N-way join Spark already knows how to
  * shuffle.
  *
  * Supported subset: PREFIX, SELECT (DISTINCT) ?v… / (AGG(?v) AS ?a),
  * CONSTRUCT, ASK, DESCRIBE, WHERE { patterns, `a`, `p1/p2` sequence paths,
  * `(p1|p2)` alternative paths, `p+` one-or-more / `p*` zero-or-more
  * transitive paths (iterative closure), OPTIONAL { … },
  * { … } UNION { … }, MINUS { … }, VALUES inline data,
  * BIND(expr AS ?v) with CONCAT/STR/UCASE/LCASE/STRLEN and arithmetic,
  * FILTER (comparisons ∧/∨/!, regex/contains/strStarts/strEnds,
  * registered custom functions), FILTER (NOT) EXISTS { … } },
  * `{ SELECT … }` subqueries (joined bottom-up on projected vars),
  * GROUP BY, HAVING, ORDER BY, LIMIT, OFFSET; string literals with
  * escapes; `_:label` blank nodes (scoped non-projectable variables);
  * `[…]` bnode property lists (subject and object position, nested);
  * var-var FILTER comparisons; closure-modified alternation branches
  * (`p1|p2+`); `GRAPH ?g { … }` / `GRAPH <g> { … }` named-graph
  * patterns over the quad-tagged store, with `FROM` / `FROM NAMED`
  * dataset clauses. Inverse path segments `^p` swap the hop's ends,
  * including inside alternations (`(^p1|p2)`, `(^p1|p2)+`). Property-
  * path closures run per-graph inside `GRAPH ?g` (the tag rides the
  * edge frontier as a join key). Scalar builtins NOW()/UUID()/
  * STRUUID()/BNODE()/sameTerm/IF evaluate in FILTER position by
  * effective boolean value.
  * Not supported (throws): N3 formulas.
  */
object Sparql {

  sealed trait Term
  final case class V(name: String) extends Term
  final case class I(iri: String) extends Term
  final case class L(lex: String, numeric: Option[Double]) extends Term
  /** `p+` one-or-more path — compiled as an iterative transitive
    * closure over the predicate's edge set. */
  /** `p?` — zero-or-one path (identity ∪ one hop). */
  final case class Opt(pred: Term) extends Term
  final case class Plus(pred: Term) extends Term
  /** `p*` zero-or-more path — the closure plus the identity relation
    * over the graph's node set (SPARQL zero-length path semantics). */
  final case class Star(pred: Term) extends Term
  /** `(p1|p2|…)` alternative path segment — one hop over the union of
    * the predicates' edge sets (compiles to a single isin scan when
    * all members are forward; inverse members split into a swapped
    * second scan unioned in). */
  final case class Alt(preds: Seq[Term]) extends Term
  /** `^p` INSIDE an alternation — the member's edge runs object →
    * subject. (A top-level `^p` path segment is instead carried by the
    * path element's inverse flag and compiled as a swapped Triple.) */
  final case class Inv(pred: Term) extends Term
  /** `!p` / `!(p1|p2|…)` negated property set — matches any predicate
    * NOT in the set (SPARQL 1.1 §9.1; forward members only). */
  final case class Neg(preds: Seq[Term]) extends Term
  /** Alternation with closure-modified branches (`p1|p2+`) — compiled
    * as the union of the member path relations (plain members stay
    * single scans, `+`/`*`/`?` members become closures). */
  final case class AltMixed(members: Seq[Term]) extends Term

  final case class Triple(s: Term, p: Term, o: Term)

  /** BIND expression tree — a bounded scalar subset (the reference
    * executes full ARQ expressions; these cover the documented
    * trigger-processor templates). */
  sealed trait BExpr
  final case class BVar(name: String) extends BExpr
  final case class BLit(value: L) extends BExpr
  final case class BFn(fn: String, args: Seq[BExpr]) extends BExpr
  final case class BArith(l: BExpr, op: String, r: BExpr) extends BExpr
  /** Relational comparison inside a scalar expression — the boolean
    * first argument of IF(cond, then, else). */
  final case class BCmp(l: BExpr, op: String, r: BExpr) extends BExpr

  /** One VALUES block: variables plus literal rows (None = UNDEF). */
  final case class ValuesClause(vars: Seq[String],
                                rows: Seq[Seq[Option[Term]]])

  /** FILTER expression tree — standard &&/||/! precedence. */
  sealed trait FExpr
  final case class FCmp(variable: String, op: String, value: L) extends FExpr
  /** variable-to-variable comparison, e.g. FILTER (?a > ?b). */
  final case class FCmpV(l: String, op: String, r: String) extends FExpr
  final case class FFn(fn: String, variable: String, arg: String) extends FExpr
  /** `strlen(?v) op n` — the one FILTER accessor whose comparison is
    * numeric, not lexical. */
  final case class FLenCmp(variable: String, op: String, n: Double) extends FExpr
  final case class FAnd(l: FExpr, r: FExpr) extends FExpr
  final case class FOr(l: FExpr, r: FExpr) extends FExpr
  final case class FNot(e: FExpr) extends FExpr
  /** sameTerm(?a, ?b) — strict term identity (lexical + lang tag +
    * term-type shadows where projected), never numeric coercion. */
  final case class FSameV(l: String, r: String) extends FExpr
  /** A scalar (BIND-grammar) expression in FILTER position — IF(...),
    * NOW()-comparisons — reduced by effective boolean value. */
  final case class FB(e: BExpr) extends FExpr

  /** One group graph pattern: basic patterns + nested OPTIONAL groups +
    * UNION chains (each chain = 2+ alternative groups) + FILTERs +
    * MINUS groups + BINDs + VALUES + FILTER (NOT) EXISTS groups. */
  final case class Group(patterns: Seq[Triple], optionals: Seq[Group],
                         unions: Seq[Seq[Group]], filters: Seq[FExpr],
                         minuses: Seq[Group] = Nil,
                         binds: Seq[(String, BExpr)] = Nil,
                         values: Seq[ValuesClause] = Nil,
                         exists: Seq[(Group, Boolean)] = Nil,
                         subqueries: Seq[Query] = Nil,
                         graphs: Seq[(Term, Group)] = Nil)

  /** One SELECT item: a plain variable, or (AGG(?v) AS ?alias).
    * `sep` is GROUP_CONCAT's SEPARATOR (default " "). */
  final case class SelectItem(agg: Option[String], distinct: Boolean,
                              v: Option[String], alias: String,
                              sep: Option[String] = None)

  final case class Query(select: Seq[SelectItem], distinct: Boolean,
                         where: Group, groupBy: Seq[String],
                         having: Seq[FExpr],
                         orderBy: Seq[(String, Boolean)], limit: Option[Int],
                         template: Seq[Triple] = Nil, // CONSTRUCT shape
                         ask: Boolean = false,
                         describe: Seq[Term] = Nil,
                         offset: Option[Int] = None,
                         fromDefault: Seq[String] = Nil, // FROM <g>
                         fromNamed: Seq[String] = Nil)   // FROM NAMED <g>

  // ---------------------------------------------------------------- parse

  private val TokenRe =
    ("""\?[A-Za-z_][A-Za-z0-9_]*|_:[A-Za-z0-9_]+|<[^>\s]*>|"(?:[^"\\]|\\.)*"(?:\^\^<[^>\s]*>|@[A-Za-z-]+)?|""" +
      """[A-Za-z][A-Za-z0-9_-]*:[A-Za-z_][A-Za-z0-9_]*|[A-Za-z_][A-Za-z0-9_]*|""" +
      """-?\d+(?:\.\d+)?|&&|\|\||[{}()\[\].,;/+^|*?-]|[<>!=]=?""").r

  private val NumericDtypes = Set("integer", "long", "int", "short",
    "double", "decimal", "float")

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'u' =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o => b.append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def parse(q: String): Query = {
    val toks = TokenRe.findAllIn(q).toVector
    var i = 0
    var freshN = 0
    def peek = if (i < toks.length) toks(i) else ""
    def next(): String = { val t = peek; i += 1; t }
    def expect(t: String): Unit = {
      val g = next(); require(g.equalsIgnoreCase(t), s"expected $t got $g")
    }
    var prefixes = Map.empty[String, String]
    while (peek.equalsIgnoreCase("PREFIX")) {
      next(); val p = next(); val iri = next()
      prefixes += p.stripSuffix(":") -> iri.stripPrefix("<").stripSuffix(">")
    }
    def term(): Term = {
      val t = next()
      if (t.startsWith("?")) V(t.drop(1))
      // blank-node label: scoped like a variable that can't be
      // projected (standard SPARQL bnode-in-query semantics)
      else if (t.startsWith("_:")) V("__bn_" + t.drop(2))
      else if (t == "a") I("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
      else if (t.startsWith("<")) I(t.stripPrefix("<").stripSuffix(">"))
      else if (t.startsWith("\"")) {
        // escape-aware: find the closing quote, then the ^^/@ suffix
        var e = 1
        while (t.charAt(e) != '"') {
          if (t.charAt(e) == '\\') e += 2 else e += 1
        }
        val body = unescape(t.substring(1, e))
        val suffix = t.substring(e + 1)
        val num =
          if (suffix.startsWith("^^<")) {
            val dt = suffix.stripPrefix("^^<").stripSuffix(">")
            val local = dt.substring(dt.lastIndexOf('#') + 1)
            if (NumericDtypes(local)) Some(body.toDouble) else None
          } else None
        L(body, num)
      }
      else if (t.matches("-?\\d+(\\.\\d+)?")) L(t, Some(t.toDouble))
      else if (t.contains(":")) {
        val Array(p, local) = t.split(":", 2)
        I(prefixes.getOrElse(p, p + ":") + local)
      }
      else throw new IllegalArgumentException(s"bad term $t")
    }

    def triples(): Seq[Triple] = {
      val out = Vector.newBuilder[Triple]
      def stop = {
        val p = peek
        p == "}" || p == "{" || p.equalsIgnoreCase("OPTIONAL") ||
          p.equalsIgnoreCase("FILTER") || p.equalsIgnoreCase("MINUS") ||
          p.equalsIgnoreCase("BIND") || p.equalsIgnoreCase("VALUES") ||
          p.equalsIgnoreCase("GRAPH")
      }
      // `(p1|p2|…)` — members are plain predicates, optionally
      // `^`-inverted (compiled as swapped-ends scans)
      def parenAlt(): Term = {
        expect("(")
        def one(): Term = {
          val inv = peek == "^"
          if (inv) next()
          val t = term()
          if (inv) Inv(t) else t
        }
        var alts = Vector(one())
        while (peek == "|") { next(); alts :+= one() }
        expect(")")
        if (alts.length == 1) alts.head else Alt(alts)
      }
      // one path element: [^] (pred | (alt) | !set) [+|*|?]
      def pathElt(): (Term, Boolean, Option[String]) = {
        val inv = peek == "^"
        if (inv) next()
        val t =
          if (peek == "!") { // negated property set
            next()
            require(!inv, "inverse of a negated set unsupported")
            val members = (if (peek == "(") parenAlt() else term()) match {
              case Alt(ps) => ps
              case one => Seq(one)
            }
            members.foreach {
              case I(_) => ()
              case o => throw new IllegalArgumentException(
                s"negated set member must be a forward IRI, got $o")
            }
            require(peek != "+" && peek != "*" && peek != "?",
              "modifiers on a negated property set unsupported")
            Neg(members)
          }
          else if (peek == "(") parenAlt() else term()
        val mod =
          if (peek == "+" || peek == "*" || peek == "?") Some(next())
          else None
        (t, inv, mod)
      }
      // a full path: sequence p1/p2/… or top-level alternation p1|p2,
      // each step resolved to (predicate-or-closure, inverse)
      def path(): Seq[(Term, Boolean)] = {
        var elts = Vector(pathElt())
        while (peek == "/") { next(); elts :+= pathElt() }
        // bare top-level alternation p1|p2 — each branch one element,
        // optionally closure-modified (p1|p2+ → AltMixed union)
        if (peek == "|") {
          def members(e: (Term, Boolean, Option[String])): Seq[Term] = {
            def wrap(t: Term): Term = if (e._2) Inv(t) else t
            e._1 match {
              case Alt(ps) if e._3.isEmpty => // flatten plain (a|b)
                if (e._2) ps.map(Inv.apply) else ps // ^(a|b) ≡ (^a|^b)
              case t => Seq(e._3 match {
                case Some("+") => Plus(wrap(t))
                case Some("*") => Star(wrap(t))
                case Some(_) => Opt(wrap(t))
                case None => wrap(t)
              })
            }
          }
          require(elts.length == 1,
            "parenthesize sequence branches in path alternatives")
          var alts = members(elts.head)
          while (peek == "|") {
            next()
            alts ++= members(pathElt())
            require(peek != "/",
              "parenthesize sequence branches in path alternatives")
          }
          val plain = alts.forall {
            case _: Plus | _: Star | _: Opt => false
            case _ => true
          }
          elts = Vector(
            (if (plain) Alt(alts) else AltMixed(alts), false, None))
        }
        elts.map { case (p0, inv, mod) =>
          mod match {
            case Some("+") => (Plus(p0), inv)
            case Some("*") => (Star(p0), inv)
            case Some(_) => (Opt(p0), inv)
            case None => (p0, inv)
          }
        }
      }
      // emit `s path o` as a chain with fresh vars between sequence
      // steps (fresh per emission, so `,` object lists don't share
      // intermediates)
      def emitChain(s: Term, steps: Seq[(Term, Boolean)], o: Term): Unit = {
        var cur = s
        steps.zipWithIndex.foreach { case ((p, inv), idx) =>
          val nxt =
            if (idx == steps.length - 1) o
            else { freshN += 1; V(s"__path$freshN") }
          // inverse: the edge runs nxt → cur
          out += (if (inv) Triple(nxt, p, cur) else Triple(cur, p, nxt))
          cur = nxt
        }
      }
      // `[ p1 o1 ; p2 o2 ]` blank-node property list — a fresh scoped
      // bnode variable plus its emitted triples; usable in subject and
      // object position, nesting allowed
      def propertyList(): Term = {
        expect("[")
        freshN += 1
        val bn = V(s"__bnpl$freshN")
        if (peek != "]") predObjList(bn)
        expect("]")
        bn
      }
      def objectTerm(): Term = if (peek == "[") propertyList() else term()
      // path objectList (`;` path objectList)* — `,` repeats the whole
      // path for each object (SPARQL objectList semantics)
      def predObjList(s: Term): Unit = {
        var more = true
        while (more) {
          val steps = path()
          emitChain(s, steps, objectTerm())
          while (peek == ",") { next(); emitChain(s, steps, objectTerm()) }
          if (peek == ";") {
            next()
            // trailing `;` before `]`, `.` or a clause keyword is legal
            more = peek != "]" && peek != "." && !stop
          } else more = false
        }
      }
      while (!stop) {
        val s = if (peek == "[") propertyList() else term()
        // a bare `[ p o ] .` property list is a complete pattern;
        // otherwise the subject carries its own predicate-object list
        if (peek != "." && !stop) predObjList(s)
        if (peek == ".") next()
      }
      out.result()
    }

    // FILTER constraint grammar (standard precedence: ! > && > ||)
    def orExpr(): FExpr = {
      var l = andExpr()
      while (peek == "||") { next(); l = FOr(l, andExpr()) }
      l
    }
    def andExpr(): FExpr = {
      var l = unary()
      while (peek == "&&") { next(); l = FAnd(l, unary()) }
      l
    }
    def unary(): FExpr = {
      // any bare word followed by "(" is a function call — the four
      // builtins, or a custom function registered via registerFunction
      def isFnCall = !peek.startsWith("?") && !peek.startsWith("\"") &&
        i + 1 < toks.length && toks(i + 1) == "("
      if (peek == "(") { next(); val e = orExpr(); expect(")"); e }
      else if (peek == "!") { next(); FNot(unary()) }
      // scalar builtins usable directly in FILTER position: IF's
      // effective boolean value, or a NOW()/UUID()-style call compared
      // against an operand — parsed with the BIND grammar, reduced by
      // EBV (SPARQL 17.2.2)
      else if (isFnCall &&
          Set("if", "now", "uuid", "struuid", "bnode")(peek.toLowerCase)) {
        val l = bTerm()
        if (Set("=", "!=", "<", "<=", ">", ">=")(peek)) {
          val op = next(); FB(BCmp(l, op, bExpr()))
        } else FB(l)
      }
      else if (isFnCall) builtin()
      else {
        val v = next(); require(v.startsWith("?"), s"FILTER needs var, got $v")
        // `?x IN (…)` / `?x NOT IN (…)` — desugars to an equality
        // disjunction (SPARQL 17.4.1.9-10); IRIs compare in path form
        // like any bound reference
        def inList(): FExpr = {
          expect("(")
          val vals = Vector.newBuilder[L]
          while (peek != ")") {
            term() match {
              case l: L => vals += l
              case I(iri) => vals += L(Rdf.iriToPath(iri), None)
              case o => throw new IllegalArgumentException(s"IN value $o")
            }
            if (peek == ",") next()
          }
          expect(")")
          val ls = vals.result()
          require(ls.nonEmpty, "empty IN list")
          ls.map(l => FCmp(v.drop(1), "=", l): FExpr).reduce(FOr.apply)
        }
        if (peek.equalsIgnoreCase("IN")) { next(); inList() }
        else if (peek.equalsIgnoreCase("NOT")) {
          next(); expect("IN"); FNot(inList())
        } else {
          val op = next()
          if (peek.startsWith("?")) FCmpV(v.drop(1), op, next().drop(1))
          else term() match {
            case l: L => FCmp(v.drop(1), op, l)
            // IRIs compare in path form, like bound references (same
            // rule as the IN-list)
            case I(iri) => FCmp(v.drop(1), op, L(Rdf.iriToPath(iri), None))
            case o => throw new IllegalArgumentException(s"FILTER value $o")
          }
        }
      }
    }
    def builtin(): FExpr = {
      val fn = next().toLowerCase
      expect("(")
      val v = next(); require(v.startsWith("?"), s"$fn needs a var first arg")
      val name = v.drop(1)
      // sameTerm(?a, ?b) / sameTerm(?a, term) — strict identity, the
      // one two-arg builtin whose second argument may be a variable
      if (fn == "sameterm") {
        expect(",")
        val e =
          if (peek.startsWith("?")) FSameV(name, next().drop(1))
          else term() match {
            case L(lex, _) => FFn("sameterm", name, lex)
            case I(iri) => FFn("sameterm", name, Rdf.iriToPath(iri))
            case o => throw new IllegalArgumentException(s"sameTerm vs $o")
          }
        expect(")")
        return e
      }
      // one-arg builtins: bound(?v) (the OPTIONAL + !bound idiom) and
      // the term type checks. Restricted to the known one-arg names so
      // a two-arg (custom UDF) call with a forgotten argument still
      // fails at parse time instead of running with arg = ""
      val oneArg = Set("bound", "isiri", "isuri", "isliteral", "isblank",
        "isnumeric")
      // ACCESSOR-comparisons — `lang(?v) = "en"`, `datatype(?v) =
      // xsd:int`, `str(?v) != "x"`, `strlen(?v) > 3` — contracted to
      // one FILTER node each (same treatment as langMatches)
      val accessor = Set("lang", "datatype", "str", "strlen")
      if (peek == ")") {
        next()
        if (accessor(fn)) {
          val op = next()
          require(Set("=", "!=", "<", "<=", ">", ">=")(op),
            s"$fn(?$name) must be compared (got '$op')")
          return fn match {
            case "lang" =>
              require(Set("=", "!=")(op), "lang() supports = / != only")
              val rhs = term() match {
                case L(lex, _) => lex
                case o => throw new IllegalArgumentException(s"lang() vs $o")
              }
              val eq = FFn("langeq", name, rhs)
              if (op == "=") eq else FNot(eq)
            case "datatype" =>
              require(Set("=", "!=")(op), "datatype() supports = / != only")
              val rhs = term() match {
                case I(iri) => iri
                case o => throw new IllegalArgumentException(s"datatype() vs $o")
              }
              val eq = FFn("datatypeeq", name, rhs)
              if (op == "=") eq else FNot(eq)
            case "str" => // str() is identity on stored lexicals
              term() match {
                case L(lex, _) => FCmp(name, op, L(lex, None))
                case I(iri) => FCmp(name, op, L(Rdf.iriToPath(iri), None))
                case o => throw new IllegalArgumentException(s"str() vs $o")
              }
            case _ => // strlen
              term() match {
                case L(_, Some(n)) => FLenCmp(name, op, n)
                case o => throw new IllegalArgumentException(s"strlen() vs $o")
              }
          }
        }
        require(oneArg(fn), s"$fn needs two arguments")
        return FFn(fn, name, "")
      }
      expect(",")
      val arg = term() match {
        case L(lex, _) => lex
        case o => throw new IllegalArgumentException(s"$fn arg $o")
      }
      expect(")")
      FFn(fn, name, arg)
    }

    // BIND scalar expression grammar — standard precedence (*/ over
    // +-), left-associative within a level
    def bExpr(): BExpr = {
      var l = bMul()
      while (peek == "+" || peek == "-") {
        val op = next(); l = BArith(l, op, bMul())
      }
      l
    }
    def bMul(): BExpr = {
      var l = bTerm()
      while (peek == "*" || peek == "/") {
        val op = next(); l = BArith(l, op, bTerm())
      }
      l
    }
    def bTerm(): BExpr = {
      def isFnCall = peek.headOption.exists(_.isLetter) &&
        i + 1 < toks.length && toks(i + 1) == "("
      if (peek == "(") { next(); val e = bExpr(); expect(")"); e }
      else if (isFnCall) {
        val fn = next().toLowerCase
        expect("(")
        // args admit a relational level (IF's condition): e [op e]
        def bRel(): BExpr = {
          val l = bExpr()
          if (Set("=", "!=", "<", "<=", ">", ">=")(peek)) {
            val op = next(); BCmp(l, op, bExpr())
          } else l
        }
        // only the named zero-arg builtins may take no operand —
        // CONCAT()/STR()/… with an empty list stay a parse error
        // rather than silently evaluating
        var fargs = Vector.empty[BExpr]
        if (peek != ")") {
          fargs :+= bRel()
          while (peek == ",") { next(); fargs :+= bRel() }
        } else require(Set("now", "uuid", "struuid", "bnode")(fn),
          s"$fn() needs arguments")
        expect(")")
        BFn(fn, fargs)
      }
      else if (peek.startsWith("?")) BVar(next().drop(1))
      else term() match {
        case l: L => BLit(l)
        case o => throw new IllegalArgumentException(s"bad BIND operand $o")
      }
    }

    def group(): Group = {
      expect("{")
      val patterns = Vector.newBuilder[Triple]
      val optionals = Vector.newBuilder[Group]
      val unions = Vector.newBuilder[Seq[Group]]
      val filters = Vector.newBuilder[FExpr]
      val minuses = Vector.newBuilder[Group]
      val binds = Vector.newBuilder[(String, BExpr)]
      val values = Vector.newBuilder[ValuesClause]
      val exists = Vector.newBuilder[(Group, Boolean)]
      val subqueries = Vector.newBuilder[Query]
      val graphs = Vector.newBuilder[(Term, Group)]
      while (peek != "}") {
        if (peek == "{" && i + 1 < toks.length &&
            toks(i + 1).equalsIgnoreCase("SELECT")) {
          // `{ SELECT … }` — a subquery, evaluated bottom-up and
          // joined in like any solution frame
          next(); subqueries += subSelect(); expect("}")
        } else if (peek == "{") {
          // braced group — a UNION chain (or a plain nested group)
          var alts = Vector(group())
          while (peek.equalsIgnoreCase("UNION")) { next(); alts :+= group() }
          unions += alts
        } else if (peek.equalsIgnoreCase("OPTIONAL")) {
          next(); optionals += group()
        } else if (peek.equalsIgnoreCase("GRAPH")) {
          // GRAPH ?g { … } / GRAPH <g> { … } — named-graph pattern
          next()
          val gt = term()
          gt match {
            case V(_) | I(_) => ()
            case o => throw new IllegalArgumentException(
              s"GRAPH needs a variable or IRI, got $o")
          }
          graphs += gt -> group()
        } else if (peek.equalsIgnoreCase("MINUS")) {
          next(); minuses += group()
        } else if (peek.equalsIgnoreCase("BIND")) {
          next(); expect("(")
          val e = bExpr()
          expect("AS")
          val v = next(); require(v.startsWith("?"), s"bad BIND alias $v")
          expect(")")
          binds += v.drop(1) -> e
        } else if (peek.equalsIgnoreCase("VALUES")) {
          next()
          val vars = Vector.newBuilder[String]
          if (peek == "(") {
            next()
            while (peek != ")") {
              val v = next(); require(v.startsWith("?"), s"bad VALUES var $v")
              vars += v.drop(1)
            }
            expect(")")
          } else {
            val v = next(); require(v.startsWith("?"), s"bad VALUES var $v")
            vars += v.drop(1)
          }
          val vs = vars.result()
          require(vs.nonEmpty, "VALUES needs at least one variable")
          expect("{")
          def valueTerm(): Option[Term] =
            if (peek.equalsIgnoreCase("UNDEF")) { next(); None }
            else Some(term())
          val rows = Vector.newBuilder[Seq[Option[Term]]]
          if (peek == "(")
            while (peek == "(") {
              next()
              rows += vs.map(_ => valueTerm())
              expect(")")
            }
          else {
            require(vs.length == 1, "multi-var VALUES rows need parentheses")
            while (peek != "}") rows += Seq(valueTerm())
          }
          expect("}")
          values += ValuesClause(vs, rows.result())
        } else if (peek.equalsIgnoreCase("FILTER")) {
          next()
          if (peek.equalsIgnoreCase("EXISTS")) {
            next(); exists += group() -> true
          } else if (peek.equalsIgnoreCase("NOT")) {
            next(); expect("EXISTS"); exists += group() -> false
          } else
            filters += (if (peek == "(") { next(); val e = orExpr(); expect(")"); e }
                        else builtin())
        } else patterns ++= triples()
      }
      expect("}")
      Group(patterns.result(), optionals.result(), unions.result(),
        filters.result(), minuses.result(), binds.result(),
        values.result(), exists.result(), subqueries.result(),
        graphs.result())
    }

    // SELECT item list: ?v | (AGG(?v) AS ?alias) | (COUNT(*) AS ?a)
    def selectClause(): (Seq[SelectItem], Boolean) = {
      expect("SELECT")
      var distinct = false
      if (peek.equalsIgnoreCase("DISTINCT")) { next(); distinct = true }
      // SELECT * — the empty item list marks the star form; resolved
      // to every visible variable at execution (the parser hasn't seen
      // WHERE yet)
      if (peek == "*") { next(); return (Nil, distinct) }
      val items = Vector.newBuilder[SelectItem]
      var more = true
      while (more) {
        if (peek.startsWith("?")) {
          val v = next().drop(1)
          items += SelectItem(None, distinct = false, Some(v), v)
        } else if (peek == "(") {
          next()
          val fn = next().toUpperCase
          require(Set("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE",
            "GROUP_CONCAT")(fn), s"unknown aggregate $fn")
          expect("(")
          var dist = false
          if (peek.equalsIgnoreCase("DISTINCT")) { next(); dist = true }
          val v = if (peek == "*") { next(); None } else {
            val t = next(); require(t.startsWith("?"), s"bad agg arg $t")
            Some(t.drop(1))
          }
          // GROUP_CONCAT(?v; SEPARATOR=", ")
          var sep: Option[String] = None
          if (peek == ";") {
            next()
            require(fn == "GROUP_CONCAT", s"$fn takes no SEPARATOR")
            val kw = next(); require(kw.equalsIgnoreCase("SEPARATOR"),
              s"expected SEPARATOR got $kw")
            expect("=")
            sep = term() match {
              case L(lex, _) => Some(lex)
              case o => throw new IllegalArgumentException(s"bad SEPARATOR $o")
            }
          }
          expect(")")
          expect("AS")
          val alias = next()
          require(alias.startsWith("?"), s"bad agg alias $alias")
          expect(")")
          items += SelectItem(Some(fn), dist, v, alias.drop(1), sep)
        } else more = false
      }
      val out = items.result()
      require(out.nonEmpty, "empty SELECT list")
      (out, distinct)
    }

    // GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET
    def solutionModifiers(): (Seq[String], Seq[FExpr],
                              Seq[(String, Boolean)], Option[Int],
                              Option[Int]) = {
      val groupBy = Vector.newBuilder[String]
      if (peek.equalsIgnoreCase("GROUP")) {
        next(); expect("BY")
        while (peek.startsWith("?")) groupBy += next().drop(1)
      }
      val having = Vector.newBuilder[FExpr]
      if (peek.equalsIgnoreCase("HAVING")) {
        next(); expect("("); having += orExpr(); expect(")")
      }
      val orderBy = Vector.newBuilder[(String, Boolean)]
      if (peek.equalsIgnoreCase("ORDER")) {
        next(); expect("BY")
        while (peek.startsWith("?") || peek.equalsIgnoreCase("ASC") ||
               peek.equalsIgnoreCase("DESC")) {
          val t = next()
          if (t.startsWith("?")) orderBy += t.drop(1) -> true
          else { expect("("); val v = next(); expect(")")
            orderBy += v.drop(1) -> t.equalsIgnoreCase("ASC") }
        }
      }
      var limit: Option[Int] = None
      var offset: Option[Int] = None
      var more = true
      while (more) { // LIMIT/OFFSET accepted in either order
        if (peek.equalsIgnoreCase("LIMIT")) {
          next(); limit = Some(next().toInt)
        } else if (peek.equalsIgnoreCase("OFFSET")) {
          next(); offset = Some(next().toInt)
        } else more = false
      }
      (groupBy.result(), having.result(), orderBy.result(), limit, offset)
    }

    // a nested `SELECT … WHERE { … } modifiers` (inside `{ … }`)
    def subSelect(): Query = {
      val (items, distinct) = selectClause()
      if (peek.equalsIgnoreCase("WHERE")) next()
      val where = group()
      val (groupBy, having, orderBy, limit, offset) = solutionModifiers()
      Query(items, distinct, where, groupBy, having, orderBy, limit,
        offset = offset)
    }

    val isConstruct = peek.equalsIgnoreCase("CONSTRUCT")
    val isAsk = peek.equalsIgnoreCase("ASK")
    val isDescribe = peek.equalsIgnoreCase("DESCRIBE")
    var select = Seq.empty[SelectItem]
    var distinct = false
    val template = Vector.newBuilder[Triple]
    val describe = Vector.newBuilder[Term]
    if (isConstruct) {
      next(); expect("{"); template ++= triples(); expect("}")
    } else if (isAsk) {
      next()
    } else if (isDescribe) {
      next()
      while (peek.nonEmpty && !peek.equalsIgnoreCase("WHERE") &&
             !peek.equalsIgnoreCase("FROM") && peek != "{")
        describe += term()
      require(describe.result().nonEmpty, "DESCRIBE needs a resource or var")
    } else {
      val (items, d) = selectClause()
      select = items; distinct = d
    }
    // dataset clauses: FROM <g> restricts the default graph to the
    // listed graphs' merge; FROM NAMED <g> restricts which graphs
    // GRAPH clauses can match
    val fromDefault = Vector.newBuilder[String]
    val fromNamed = Vector.newBuilder[String]
    while (peek.equalsIgnoreCase("FROM")) {
      next()
      val named = peek.equalsIgnoreCase("NAMED")
      if (named) next()
      term() match {
        case I(iri) => if (named) fromNamed += iri else fromDefault += iri
        case o => throw new IllegalArgumentException(s"FROM needs an IRI, got $o")
      }
    }
    // WHERE is optional for ASK (`ASK { … }` is the common form) and
    // absent entirely for the DESCRIBE-by-IRI form
    val where =
      if (isDescribe && peek.isEmpty) Group(Nil, Nil, Nil, Nil)
      else {
        if (peek.equalsIgnoreCase("WHERE")) next()
        else require(isAsk || isDescribe, s"expected WHERE got $peek")
        group()
      }
    val (groupBy, having, orderBy, limit, offset) = solutionModifiers()
    Query(select, distinct, where, groupBy, having, orderBy, limit,
      template.result(), isAsk, describe.result(), offset,
      fromDefault.result(), fromNamed.result())
  }

  // -------------------------------------------------------------- compile

  /** The distinct (from, to) edge union for a predicate set — the raw
    * material of every path-modifier scan ([[GraftStore.refEdges]]),
    * plus the graph tag `quad` when `tagged`. Inverse members (`^p`
    * inside an alternation) contribute their edges with the ends
    * swapped. */
  private def edgeSet(store: GraftStore, fwd: Seq[String],
                      inv: Seq[String],
                      tagged: Boolean = false): DataFrame = {
    val tag = if (tagged) Seq(col("quad")) else Nil
    def edges(ls: Seq[String], from: String, to: String) =
      store.refEdges(ls).select(col(from).as("from") +: col(to).as("to") +: tag: _*)
    val f = if (fwd.isEmpty) None else Some(edges(fwd, "from", "to"))
    val i = if (inv.isEmpty) None else Some(edges(inv, "to", "from"))
    (f.toSeq ++ i.toSeq).reduce(_ unionByName _).distinct()
  }

  /** Transitive closure of an edge set — `p+` and `(p1|p2)+` paths.
    * Semi-naive frontier expansion: round k hops only the pairs that
    * round k−1 found NEW (Δ = hop(Δ) minus the closure so far), so
    * every round plans exactly one [[Graph.hop]] join however deep the
    * walk. The closure so far is one local checkpoint (a lineage cut)
    * whose `round` column tags each pair with the round that found
    * it, so Δ is a filter on it. Each round's checkpoint is lazy: the
    * round's one `count` of new pairs both materializes it and answers
    * convergence (no new pair) — the standard Spark iterative-algorithm
    * shape, as in connected components — and the superseded round is
    * released. Depth-bounded as a runaway guard; real reference graphs
    * (FK chains) are shallow. The bound is session-configurable
    * (`spark.graft.sparql.pathDepth`, default 12) so legitimately
    * deeper chains have an actionable knob. `onRound` sees each
    * round's hop output (a plan probe for tests). */
  private[sparql] def transitive(edges: DataFrame,
                                 seed: Option[String] = None,
                                 onRound: DataFrame => Unit = _ => ())
      : DataFrame = {
    val maxDepth = edges.sparkSession.conf
      .get("spark.graft.sparql.pathDepth", "12").toInt
    // edges carrying a `quad` column walk PER GRAPH: the tag is a hop
    // scope key, so a path never hops across graphs
    val scope = edges.columns.toSeq.filter(_ == "quad")
    val e = Caches.localCheckpoint(edges)
    // a bound subject seeds the walk: only paths FROM it are expanded,
    // so a single-resource closure never materializes the whole
    // graph's closure (frontier stays the reachable set)
    val start = seed.fold(e)(p => e.where(col("from") === p))
    var acc = Caches.localCheckpoint(start.withColumn("round", lit(0)),
      eager = false)
    var done = false
    var depth = 1
    while (!done && depth < maxDepth) {
      // a (from, to) pair walks with `to` as the hop head; `from` is
      // carried as `start`
      val next = Graph.hop(acc.where(col("round") === depth - 1)
            .select(col("from").as("start") +: col("to").as("p") +:
              scope.map(col): _*), e, Graph.Out, scope)
        .select(col("start").as("from") +: col("p").as("to") +: scope.map(col): _*)
      onRound(next)
      // EXCEPT is distinct and null-safe on the graph tag
      val grown = Caches.localCheckpoint(acc.unionByName(
        next.except(acc.drop("round")).withColumn("round", lit(depth))),
        eager = false)
      done = grown.where(col("round") === depth).count() == 0
      Caches.release(acc)
      acc = grown
      if (!done) depth += 1
    }
    require(done,
      s"p+ closure still growing after $maxDepth rounds — raise " +
        "spark.graft.sparql.pathDepth for deeper chains (silent " +
        "truncation would drop results)")
    acc.drop("round")
  }

  /** `?s p+ ?o` / `?s p* ?o` → the closure frame with pattern bindings
    * applied. Zero-or-more adds the identity relation over the graph's
    * node set (every subject and every ref target) — the SPARQL
    * zero-length-path semantics; one distinct over two projected
    * columns of quads, no collect. */
  private def closureScan(store: GraftStore, t: Triple, pred: Term,
                          includeZero: Boolean,
                          transitiveHop: Boolean = true,
                          graphVar: Option[String] = None): DataFrame = {
    // split the closure's predicate set by direction: `(^p1|p2)+`
    // walks p2 edges forward and p1 edges swapped in the SAME frontier
    def split(p: Term): (Seq[String], Seq[String]) = p match {
      case I(iri) => (Seq(Namespaces.keyOf(iri)), Nil)
      case Inv(I(iri)) => (Nil, Seq(Namespaces.keyOf(iri)))
      case Alt(ps) =>
        val parts = ps.map(split)
        (parts.flatMap(_._1), parts.flatMap(_._2))
      case o => throw new IllegalArgumentException(s"p+ needs an IRI, got $o")
    }
    val (fwdLocals, invLocals) = split(pred)
    val seed = t.s match {
      case I(iri) => Some(Rdf.iriToPath(iri))
      case _ => None
    }
    val tagged = graphVar.nonEmpty
    var df =
      if (transitiveHop)
        transitive(edgeSet(store, fwdLocals, invLocals, tagged), seed)
      else { // p? — exactly one hop before the identity union below
        val e = edgeSet(store, fwdLocals, invLocals, tagged)
        seed.fold(e)(p => e.where(col("from") === p))
      }
    if (includeZero) {
      def live = store.quads.where(col("current") &&
        col("kind") =!= InfotonModel.KindDeleted)
      df = (seed, tagged) match {
        case (Some(p), false) =>
          // bound subject: the zero-length path is just the seed itself
          // (SPARQL identity on the term — no need for the graph's
          // node set)
          val spark = store.quads.sparkSession
          import spark.implicits._
          df.union(Seq((p, p)).toDF("from", "to")).distinct()
        case (Some(p), true) =>
          // per-graph identity: the seed in every named graph it
          // appears in (as subject or ref target)
          val gs = live.where(col("subject") === p ||
              (col("vType") === InfotonModel.TRef && col("s") === p))
            .select(col("quad")).distinct()
          df.unionByName(gs.select(lit(p).as("from"), lit(p).as("to"),
            col("quad"))).distinct()
        case (None, false) =>
          val nodes = live.select(col("subject").as("node"))
            .union(live.where(col("vType") === InfotonModel.TRef)
              .select(col("s").as("node")))
            .distinct()
          df.union(nodes.select(col("node").as("from"),
            col("node").as("to"))).distinct()
        case (None, true) =>
          // per-graph node set: identity is graph-scoped, so a node
          // only self-matches inside graphs that contain it
          val nodes = live.select(col("quad"), col("subject").as("node"))
            .union(live.where(col("vType") === InfotonModel.TRef)
              .select(col("quad"), col("s").as("node")))
            .distinct()
          df.unionByName(nodes.select(col("node").as("from"),
            col("node").as("to"), col("quad"))).distinct()
      }
    }
    var proj = Seq.empty[Column]
    t.s match {
      case I(iri) => df = df.where(col("from") === Rdf.iriToPath(iri))
      case V(v) => proj :+= col("from").as(v)
      case o => throw new IllegalArgumentException(s"bad closure subject $o")
    }
    t.o match {
      case I(iri) => df = df.where(col("to") === Rdf.iriToPath(iri))
      case V(v) => proj :+= col("to").as(v)
      case o => throw new IllegalArgumentException(s"bad closure object $o")
    }
    graphVar.foreach { gv =>
      require(!Seq(t.s, t.o).contains(V(gv)),
        s"GRAPH variable ?$gv reused as a term inside its own group")
      proj :+= col("quad").as(gv)
    }
    df.select(proj: _*)
  }

  /** One triple pattern → a filtered scan of quads with variable
    * bindings as columns. Inside `GRAPH ?g` the scan additionally
    * projects the row's graph tag as the `?g` binding (`graphVar`) —
    * the store is already scoped to named-graph rows, so patterns
    * sharing ?g equi-join on the tag like any other variable. */
  private def scan(store: GraftStore, t: Triple,
                   langVars: Set[String],
                   typeVars: Set[String],
                   graphVar: Option[String] = None): DataFrame = {
    var df = store.quads.where(col("current") &&
      col("kind") =!= InfotonModel.KindDeleted)
    var proj = Seq.empty[Column]
    t.p match {
      case I(iri) => df = df.where(col("predicate") === Namespaces.keyOf(iri))
      case Alt(ps) =>
        // alternative path — one scan over the union of edge sets
        val locals = ps.map {
          case I(iri) => Namespaces.keyOf(iri)
          case o => throw new IllegalArgumentException(
            s"path alternative must be an IRI, got $o")
        }
        df = df.where(col("predicate").isin(locals: _*))
      case Neg(ps) =>
        // negated set — same one-scan shape as Alt, complemented; the
        // predicate-partitioned layout prunes nothing here by design
        // (the match set is "everything else")
        val locals = ps.map { case I(iri) => Namespaces.keyOf(iri)
          case o => throw new IllegalArgumentException(s"negated member $o") }
        df = df.where(!col("predicate").isin(locals: _*))
      case V(v) => proj :+= col("predicate").as(v)
      case o => throw new IllegalArgumentException(s"bad predicate $o")
    }
    t.s match {
      case I(iri) => df = df.where(col("subject") === Rdf.iriToPath(iri))
      case L(_, _) =>
        // a literal subject is legal SPARQL but unsatisfiable in RDF
        // (literals are never subjects) — the EMPTY relation, not an
        // error; arises from inverse paths over literal objects
        // (`?s ^p "lit"` ≡ `"lit" p ?s`, must yield no rows while the
        // other alternation branches still match)
        df = df.where(lit(false))
      case V(v) => proj :+= col("subject").as(v)
      case o => throw new IllegalArgumentException(s"bad subject $o")
    }
    t.o match {
      case I(iri) =>
        df = df.where(col("vType") === InfotonModel.TRef &&
          col("s") === Rdf.iriToPath(iri))
      case L(lex, Some(n)) => df = df.where(col("n") === n)
      case L(lex, None) => df = df.where(col("s") === lex)
      case p @ (_: Plus | _: Star | _: Alt | _: Opt | _: Neg |
                _: AltMixed) =>
        throw new IllegalArgumentException(s"bad object $p")
      case V(v) =>
        // the numeric shadow is projected only when the predicate's
        // field can actually be numeric: a known string/ref/bool/date
        // field carries an all-null `n` slot, which would silently
        // null MIN/MAX and make numeric FILTERs vacuous — with no
        // shadow those now fail loud at analysis instead
        def numericPred(iri: String): Boolean =
          store.vTypeOf(Namespaces.keyOf(iri)).forall(ty => "ildf".contains(ty))
        // lang tags only exist on string literals — and the shadow is
        // projected only when the QUERY references langMatches on this
        // variable (langVars), so the ~99% of queries without a lang
        // filter don't drag an all-null column through every join
        def stringPred(iri: String): Boolean =
          store.vTypeOf(Namespaces.keyOf(iri)).forall(_ == "s")
        def overPreds(f: String => Boolean): Boolean = t.p match {
          case I(iri) => f(iri)
          case Alt(ps) => ps.exists {
            case I(iri) => f(iri)
            case _ => true
          }
          case _ => true // variable predicate: type unknown, keep it
        }
        proj :+= col("s").as(v)
        if (overPreds(numericPred)) proj :+= col("n").as(s"${v}__n")
        if (langVars(v) && overPreds(stringPred))
          proj :+= col("lang").as(s"${v}__lang")
        if (typeVars(v)) proj :+= col("vType").as(s"${v}__t")
    }
    graphVar.foreach { gv =>
      require(!Seq(t.s, t.p, t.o).contains(V(gv)),
        s"GRAPH variable ?$gv reused as a term inside its own group")
      proj :+= col("quad").as(gv)
    }
    df.select(proj: _*)
  }

  /** A bound variable's column may be accompanied by SHADOW columns:
    * `v__n` (numeric slot, for typed comparisons/aggregation) and
    * `v__lang` (language tag, for lang()/langMatches FILTERs). Shadows
    * are never join keys; they follow their variable's binding through
    * joins. */
  private val ShadowSuffixes = Seq("__n", "__lang", "__t")
  private def isShadow(c: String): Boolean = ShadowSuffixes.exists(c.endsWith)

  private def joinVars(a: DataFrame, b: DataFrame): Seq[String] =
    a.columns.filterNot(isShadow)
      .intersect(b.columns.filterNot(isShadow)).toSeq

  private def joined(a: DataFrame, b: DataFrame, how: String): DataFrame = {
    val on = joinVars(a, b)
    // a variable bound as object on BOTH sides carries shadows on
    // each — keep the left's (the join equates the canonical strings)
    // or a later FILTER hits an ambiguous reference
    val dupShadows = a.columns.intersect(b.columns).filter(isShadow)
    val bClean = dupShadows.foldLeft(b)(_ drop _)
    if (on.isEmpty) a.crossJoin(bClean) else a.join(bClean, on, how)
  }

  /** Join with SPARQL compatibility on possibly-unbound variables:
    * null on either side is compatible, bound values must agree, and
    * the surviving binding is the coalesce. Falls back to the plain
    * equi-join when no shared variable is possibly-unbound. The loose
    * predicates are residual conditions, so Spark still hashes on any
    * strict keys; a loose-only join degrades to nested-loop — inherent
    * to unbound-compatibility. */
  private def compatJoin(a: DataFrame, b0: DataFrame,
                         maybeUnbound: Set[String]): DataFrame = {
    val on = joinVars(a, b0)
    val loose = on.filter(maybeUnbound)
    if (loose.isEmpty) return joined(a, b0, "inner")
    val strict = on.filterNot(maybeUnbound)
    val dupShadows = a.columns.intersect(b0.columns).filter(isShadow)
    // a loose variable's binding may survive from EITHER side, so its
    // shadows must survive from the same side — dropping b's shadow
    // here would leave a null shadow on right-surviving rows and
    // silently break later numeric/lang FILTERs on that variable
    val looseShadows = loose.flatMap(v => ShadowSuffixes.map(v + _))
      .filter(dupShadows.contains).toSet
    var b = dupShadows.filterNot(looseShadows).foldLeft(b0)(_ drop _)
    (on ++ looseShadows).foreach(c => b = b.withColumnRenamed(c, s"__u_$c"))
    val cond = (strict.map(c => a(c) === b(s"__u_$c")) ++
      loose.map(c => a(c).isNull || b(s"__u_$c").isNull ||
        a(c) === b(s"__u_$c"))).reduce(_ && _)
    var out = a.join(b, cond, "inner")
    loose.foreach { c =>
      // shadows first, while col(c) still distinguishes which side
      // bound: a shadow must come from the side whose VALUE survives
      // (a null shadow next to a bound non-numeric value is legitimate)
      ShadowSuffixes.foreach { sfx =>
        if (looseShadows(c + sfx))
          out = out.withColumn(c + sfx,
            when(col(c).isNotNull, col(c + sfx))
              .otherwise(col(s"__u_$c$sfx")))
      }
      out = out.withColumn(c, coalesce(col(c), col(s"__u_$c")))
    }
    (on ++ looseShadows).foreach(c => out = out.drop(s"__u_$c"))
    out
  }

  /** Canonical lexical rendering of a numeric column — used by BIND
    * results and subquery aggregate aliases, which join/compare against
    * pattern-bound lexical values. A plain double→string cast renders
    * ≥1e7 in scientific notation ("4.56E9"), which would never equal a
    * stored lexical "4560000000"; going through decimal(38,6) forces
    * plain notation (always 6 decimals, so the dot is guaranteed),
    * then trailing zeros and the bare dot are stripped. */
  private def numLex(n: Column): Column =
    regexp_replace(regexp_replace(
      n.cast("decimal(38,6)").cast("string"), "0+$", ""), "\\.$", "")

  private def cmpCol(op: String, l: Column, r: Column): Column = op match {
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
    case "=" | "==" => l === r
    case "!=" => l =!= r
    case o => throw new IllegalArgumentException(s"bad FILTER op $o")
  }

  /** Scalar-expression comparison: numeric when either side carries a
    * numeric shadow (or is a numeric literal), lexical otherwise —
    * shared by IF's condition and FILTER-position comparisons. */
  private def bCmpCol(l: BExpr, op: String, r: BExpr,
                      cols: Set[String]): Column = {
    val lp = bindColsC(l, cols); val rp = bindColsC(r, cols)
    val numeric = lp._2.nonEmpty || rp._2.nonEmpty
    def sideOf(p: (Column, Option[Column])) =
      if (numeric) p._2.getOrElse(p._1.cast("double")) else p._1
    cmpCol(op, sideOf(lp), sideOf(rp))
  }

  /** Effective boolean value (SPARQL 17.2.2) of a scalar expression in
    * FILTER position: comparisons are already boolean; numerics are
    * true unless 0/NaN; strings follow the boolean lexicals, else
    * non-empty. */
  private def ebvCol(b: BExpr, cols: Set[String]): Column = b match {
    case BCmp(l, op, r) => bCmpCol(l, op, r, cols)
    case other =>
      val (lex, num) = bindColsC(other, cols)
      num.map(n => n =!= 0.0 && !isnan(n)).getOrElse(
        when(lex === "false", lit(false)).otherwise(length(lex) > 0))
  }

  /** FILTER compiler. `cols` = the solution frame's columns, so a
    * var-var comparison can pick numeric shadows when both sides carry
    * one (lexical comparison would rank "9" above "10"). */
  private def filterCol(e: FExpr, cols: Set[String]): Column = e match {
    case FCmp(v, op, value) =>
      val (l, r) = value.numeric
        .map(n => (col(s"${v}__n"), lit(n)))
        .getOrElse((col(v), lit(value.lex)))
      cmpCol(op, l, r)
    case FCmpV(a, op, b) =>
      // numeric when EITHER side carries a shadow — the other side is
      // coerced (non-numeric lexicals go null → row dropped, close to
      // the SPARQL type-error semantics). Lexical only when neither
      // side is known-numeric; "9" > "10" lexical surprises are then
      // the caller's explicit choice of string-typed fields.
      def side(v: String): Option[Column] =
        if (cols(s"${v}__n")) Some(col(s"${v}__n")) else None
      (side(a), side(b)) match {
        case (None, None) => cmpCol(op, col(a), col(b))
        case (l, r) => cmpCol(op, l.getOrElse(col(a).cast("double")),
          r.getOrElse(col(b).cast("double")))
      }
    case FFn("regex", v, arg) => col(v).rlike(arg)
    case FFn("contains", v, arg) => col(v).contains(arg)
    case FFn("strstarts", v, arg) => col(v).startsWith(arg)
    case FFn("strends", v, arg) => col(v).endsWith(arg)
    case FFn("bound", v, _) => col(v).isNotNull
    // term type checks — object bindings carry a `__t` vType shadow
    // (projected only when the query asks, like `__lang`); a binding
    // without one came from subject/predicate position, which is an
    // IRI by construction
    case FFn("isiri" | "isuri", v, _) =>
      if (cols(s"${v}__t")) col(s"${v}__t") === InfotonModel.TRef
      else col(v).isNotNull
    case FFn("isliteral", v, _) =>
      if (cols(s"${v}__t"))
        col(s"${v}__t").isNotNull && col(s"${v}__t") =!= InfotonModel.TRef
      else lit(false)
    case FFn("isblank", v, _) =>
      // generated bnode labels keep their `_:` marker through path
      // normalization (`/_:…`)
      col(v).startsWith("_:") || col(v).startsWith("/_:")
    case FFn("isnumeric", v, _) =>
      if (cols(s"${v}__n")) col(s"${v}__n").isNotNull else lit(false)
    // lang(?v) = "tag" — exact tag equality, case-insensitive; the
    // plain-literal lang is the empty string (SPARQL 17.4.2.2)
    case FFn("langeq", v, arg) =>
      coalesce(lower(col(s"${v}__lang")), lit("")) === lit(arg.toLowerCase)
    // datatype(?v) = xsd:T — vType-code set per XSD type; plain
    // literals read as xsd:string
    case FFn("datatypeeq", v, arg) =>
      val codes = Rdf.localName(arg).toLowerCase match {
        case "integer" | "int" | "long" | "short" | "byte" =>
          Seq(InfotonModel.TInt, InfotonModel.TLong)
        case "double" | "decimal" => Seq(InfotonModel.TDouble)
        case "float" => Seq(InfotonModel.TFloat)
        case "boolean" => Seq(InfotonModel.TBool)
        case "datetime" | "date" => Seq(InfotonModel.TDate)
        case "string" => Seq(InfotonModel.TString)
        case o => throw new IllegalArgumentException(s"datatype() vs xsd:$o")
      }
      col(s"${v}__t").isin(codes: _*)
    case FLenCmp(v, op, n) => cmpCol(op, length(col(v)).cast("double"), lit(n))
    // langMatches(lang(?v), "tag") contracted to one call: "*" matches
    // any tagged literal, otherwise exact tag or tag-prefix ("en"
    // matches "en-US"), case-insensitive per BCP 47
    case FFn("langmatches", v, arg) =>
      require(cols(s"${v}__lang"),
        s"?$v has no language tags (non-string field)")
      val lang = lower(col(s"${v}__lang"))
      if (arg == "*") lang.isNotNull
      else lang === arg.toLowerCase ||
        lang.startsWith(arg.toLowerCase + "-")
    // sameTerm (17.4.1.8): strict identity — lexical plus whatever
    // shadows the solution carries (lang tags; vType when both sides
    // are tested elsewhere), never numeric coercion ("1" and "1.0"
    // differ as terms even though = would coerce them equal)
    case FFn("sameterm", v, arg) =>
      // the constant form is strict too: a lang-tagged literal is a
      // DIFFERENT term from the plain/IRI constant even when the
      // lexicals agree (same rule the var-var arm enforces)
      val plainLang =
        if (cols(s"${v}__lang"))
          coalesce(col(s"${v}__lang"), lit("")) === ""
        else lit(true)
      col(v) === lit(arg) && plainLang
    case FSameV(a, b) =>
      def langOf(v: String) =
        if (cols(s"${v}__lang")) coalesce(col(s"${v}__lang"), lit(""))
        else lit("")
      var c = col(a) === col(b)
      // skip the lang guard when neither side carries a lang shadow:
      // lit("") === lit("") is trivially true and Spark WARNs on it
      if (cols(s"${a}__lang") || cols(s"${b}__lang"))
        c = c && langOf(a) === langOf(b)
      if (cols(s"${a}__t") && cols(s"${b}__t"))
        c = c && col(s"${a}__t") <=> col(s"${b}__t")
      c
    case FB(b) => ebvCol(b, cols)
    // SPARQL IMPORTS analog (SpHandler.scala:201-203 loads stored Jena
    // functions): any other name dispatches to a Spark UDF registered
    // via [[registerFunction]] — unknown names fail at analysis
    case FFn(other, v, arg) => call_udf(other, col(v), lit(arg))
    case FAnd(l, r) => filterCol(l, cols) && filterCol(r, cols)
    case FOr(l, r) => filterCol(l, cols) || filterCol(r, cols)
    case FNot(x) => !filterCol(x, cols)
  }

  /** HAVING condition compiler — like [[filterCol]] but comparisons hit
    * the (already numeric) aggregate alias column, never a shadow. */
  private def havingCol(e: FExpr): Column = e match {
    case FCmp(v, op, value) =>
      cmpCol(op, col(v), value.numeric.map(lit(_)).getOrElse(lit(value.lex)))
    case FCmpV(a, op, b) => cmpCol(op, col(a), col(b))
    case FAnd(l, r) => havingCol(l) && havingCol(r)
    case FOr(l, r) => havingCol(l) || havingCol(r)
    case FNot(x) => !havingCol(x)
    case other => throw new IllegalArgumentException(s"bad HAVING $other")
  }

  /** Bind one group: patterns joined, UNION chains unioned then joined
    * in, OPTIONALs left-joined, FILTERs applied — one row per solution,
    * one column per variable. Returns the frame plus the set of
    * variables that may be UNBOUND (null) in some solutions — from
    * branch-partial UNIONs and OPTIONAL-only bindings — so enclosing
    * joins use SPARQL compatibility semantics (unbound matches
    * anything) instead of a null-dropping equi-join. */
  /** `graphVar` = the enclosing `GRAPH ?g` variable (scans bind it);
    * `named` = the dataset context for GRAPH clauses: the root store
    * named-graph scans draw from (independent of any FROM default-graph
    * restriction on `store`) plus the FROM NAMED allow-list (path form,
    * empty = every named graph). */
  private def solutionsOf(store: GraftStore, g: Group,
                          langVars: Set[String] = Set.empty,
                          typeVars: Set[String] = Set.empty,
                          graphVar: Option[String] = None,
                          named: Option[(GraftStore, Seq[String])] = None)
      : (DataFrame, Set[String]) = {
    var df: DataFrame = null
    var maybe = Set.empty[String]
    def mergeIn(b: DataFrame, bMaybe: Set[String]): Unit = {
      if (df == null) { df = b; maybe = bMaybe }
      else {
        val shared = joinVars(df, b)
        val loose = shared.filter(c => maybe(c) || bMaybe(c)).toSet
        df = compatJoin(df, b, loose)
        // a var strictly bound on either side is bound after the
        // coalescing join
        val bound = shared.filter(c => !maybe(c) || !bMaybe(c)).toSet
        maybe = (maybe ++ bMaybe) -- bound
      }
    }
    // property-path closures are graph-scoped: under GRAPH <g> via the
    // (already scoped) store; under GRAPH ?g the tag rides the edge
    // frontier as a join key (closureScan's graphVar) so a path never
    // hops across graphs
    if (g.patterns.nonEmpty)
      mergeIn(g.patterns.map {
        case t @ Triple(_, Plus(p), _) =>
          closureScan(store, t, p, includeZero = false,
            graphVar = graphVar)
        case t @ Triple(_, Star(p), _) =>
          closureScan(store, t, p, includeZero = true,
            graphVar = graphVar)
        case t @ Triple(_, Opt(p), _) =>
          closureScan(store, t, p, includeZero = true,
            transitiveHop = false, graphVar = graphVar)
        case t @ Triple(s, AltMixed(ms), o) =>
          // union of the member path relations; shadows are dropped so
          // plain-scan rows and closure rows (which never carry any)
          // agree on schema — a numeric FILTER over an AltMixed
          // binding fails loud instead of silently dropping closure
          // rows
          def noShadow(f: DataFrame): DataFrame =
            f.select(f.columns.filterNot(isShadow).map(col).toSeq: _*)
          ms.map {
            case Plus(p) =>
              closureScan(store, t, p, includeZero = false,
                graphVar = graphVar)
            case Star(p) =>
              closureScan(store, t, p, includeZero = true,
                graphVar = graphVar)
            case Opt(p) =>
              closureScan(store, t, p, includeZero = true,
                transitiveHop = false, graphVar = graphVar)
            case Inv(p) => // ^p member — swapped-ends scan (a literal
              // object lands in subject position, which scan compiles
              // to the empty relation: `?s (^p|q) "lit"` keeps q's
              // matches)
              noShadow(scan(store, Triple(o, p, s), langVars, typeVars,
                graphVar))
            case p =>
              noShadow(scan(store, Triple(s, p, o), langVars, typeVars,
                graphVar))
          // multiset union (SPARQL 18.4 alt = union of the member path
          // relations): a pair reachable through BOTH branches yields
          // two solutions, matching Jena — closure members are
          // internally distinct (closure set semantics), but no
          // cross-branch dedup
          }.reduce(_ unionByName _)
        case t @ Triple(s, Alt(ps), o) if ps.exists(_.isInstanceOf[Inv]) =>
          // mixed-direction alternation `(^p1|p2)`: forward members in
          // one isin scan, inverse members in one swapped-ends scan,
          // multiset union (shadow-dropped so branch schemas agree —
          // same rule as AltMixed)
          def dropSh(f: DataFrame): DataFrame =
            f.select(f.columns.filterNot(isShadow).map(col).toSeq: _*)
          def altOf(ms: Seq[Term]): Term =
            if (ms.length == 1) ms.head else Alt(ms)
          val fwds = ps.filterNot(_.isInstanceOf[Inv])
          val invs = ps.collect { case Inv(p) => p }
          // a literal object lands in the swapped scan's subject
          // position, which scan compiles to the empty relation — the
          // inverse branch contributes nothing, forward matches stay
          val frames =
            (if (fwds.isEmpty) Nil
             else Seq(dropSh(scan(store, Triple(s, altOf(fwds), o),
               langVars, typeVars, graphVar)))) ++
            (if (invs.isEmpty) Nil
             else Seq(dropSh(scan(store, Triple(o, altOf(invs), s),
               langVars, typeVars, graphVar))))
          frames.reduce(_ unionByName _)
        case t => scan(store, t, langVars, typeVars, graphVar)
      }.reduceLeft((a, b) => joined(a, b, "inner")), Set.empty)
    g.unions.foreach { alts =>
      // SPARQL UNION: concatenation of the alternatives' solution
      // multisets; variables bound in one branch only are unbound
      // (null) in the others — exactly unionByName/allowMissingColumns
      val frames = alts.map(solutionsOf(store, _, langVars, typeVars,
        graphVar, named))
      val allVars = frames.flatMap(_._1.columns)
        .filterNot(isShadow).distinct
      val branchPartial = allVars
        .filterNot(v => frames.forall(_._1.columns.contains(v))).toSet
      val u = frames.map(_._1)
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      mergeIn(u, branchPartial ++ frames.flatMap(_._2))
    }
    // VALUES — inline data is just another joinable solution frame
    g.values.foreach { vc =>
      val undef = vc.vars.zipWithIndex
        .filter { case (_, j) => vc.rows.exists(r => r(j).isEmpty) }
        .map(_._1).toSet
      mergeIn(valuesFrame(store, vc), undef)
    }
    // `{ SELECT … }` subqueries — evaluated bottom-up, joined on their
    // projected variables
    g.subqueries.foreach { sq =>
      val (sf, sm) = subFrame(store, sq, langVars, typeVars, graphVar, named)
      mergeIn(sf, sm)
    }
    // GRAPH clauses — each compiles against the dataset's named-graph
    // slice: a bound graph scopes the store to that one tag (closures
    // and all nested patterns inherit the restriction for free); a
    // graph variable scopes to all (FROM-NAMED-allowed) tagged rows and
    // threads the tag projection into each scan as the ?g binding.
    // Nested GRAPH re-scopes from the dataset root, not the enclosing
    // graph (SPARQL 13.3).
    g.graphs.foreach { case (gt, gg) =>
      val (root, fromN) = named.getOrElse((store, Nil))
      var nq = root.quads.where(col("quad").isNotNull)
      if (fromN.nonEmpty) nq = nq.where(col("quad").isin(fromN: _*))
      gt match {
        case I(iri) =>
          val scoped = root.scopedTo(
            nq.where(col("quad") === Rdf.iriToPath(iri)))
          val (gd, gm) = solutionsOf(scoped, gg, langVars, typeVars,
            None, named)
          mergeIn(gd, gm)
        case V(v) =>
          val scoped = root.scopedTo(nq)
          val (gd, gm) = solutionsOf(scoped, gg, langVars, typeVars,
            Some(v), named)
          // a GRAPH ?g group whose only content is a subquery projects
          // the subquery's select list, which drops the tag binding —
          // fail loud instead of surfacing a confusing missing-column
          // error downstream
          require(gd.columns.contains(v),
            s"GRAPH ?$v group binds no ?$v — it needs at least one " +
              "triple pattern at its own level (subquery-only GRAPH " +
              "groups are unsupported)")
          mergeIn(gd, gm)
        case o => throw new IllegalArgumentException(
          s"GRAPH needs a variable or IRI, got $o")
      }
    }
    require(df != null, "empty group pattern")
    g.optionals.foreach { o =>
      val (od, om) = solutionsOf(store, o, langVars, typeVars,
        graphVar, named)
      val newVars = od.columns.filterNot(isShadow).toSet --
        df.columns.toSet
      df = joined(df, od, "left")
      maybe = maybe ++ om ++ newVars
    }
    // BIND — applied after the group's patterns are joined (a known
    // simplification vs SPARQL's positional scoping: a BIND textually
    // before a pattern that reuses the variable fails loud with
    // "would rebind" instead of seeding the join); later FILTERs may
    // reference it
    g.binds.foreach { case (v, e) =>
      require(!df.columns.contains(v), s"BIND would rebind ?$v")
      val (lex, num) = bindCols(e, df)
      df = df.withColumn(v, lex)
      num.foreach(n => df = df.withColumn(s"${v}__n", n))
      // a BIND var is maybe-unbound not only when a referenced var is
      // (the old rule) but whenever the EXPRESSION can yield null on
      // bound inputs — SPARQL type errors bind nothing (IF on a
      // non-boolean, date accessors on a non-dateTime, …). Catalyst's
      // nullability flag is the conservative oracle for that; missing
      // it classified such vars sure-bound and broke MINUS/EXISTS
      // null-compatibility on them.
      if (bindRefs(e).exists(maybe) || df.schema(v).nullable) maybe += v
    }
    // MINUS — remove solutions compatible with (and domain-overlapping)
    // some right solution; disjoint domains remove nothing (SPARQL
    // spec). One distributed anti-join on the shared variables.
    g.minuses.foreach { m =>
      val (md, mm) = solutionsOf(store, m, langVars, typeVars,
        graphVar, named)
      val a = df
      val shared = joinVars(a, md)
      if (shared.nonEmpty) {
        val b = md.select(md.columns.map(c => col(c).as(s"__m_$c")).toSeq: _*)
        // null-compatibility is only REAL for variables that can be
        // unbound on a side (OPTIONAL-produced); a sure-bound variable
        // compares as plain equality. This matters for the PLAN, not
        // just clarity: `isNull || =` disjuncts leave Spark no equi
        // keys to hash on, so an all-loose condition plans as a
        // nested-loop anti-join — quadratic in the group sizes (44×
        // at 10× data, measured). With the common all-sure-bound case
        // reduced to pure equality the anti-join hashes, and the
        // domain-overlap guard is automatically true (both sides
        // non-null), so it drops out.
        val loose = shared.filter(c => maybe(c) || mm(c))
        val sure = shared.filterNot(loose.contains)
        val compatible = (
          sure.map(c => a(c) === b(s"__m_$c")) ++
          loose.map(c => a(c).isNull || b(s"__m_$c").isNull ||
            a(c) === b(s"__m_$c"))).reduce(_ && _)
        val overlap =
          if (sure.nonEmpty) lit(true)
          else shared.map(c => a(c).isNotNull &&
            b(s"__m_$c").isNotNull).reduce(_ || _)
        df = a.join(b, compatible && overlap, "left_anti")
      }
    }
    g.filters.foreach { f => df = df.where(filterCol(f, df.columns.toSet)) }
    // FILTER (NOT) EXISTS — a semi/anti join on the shared variables,
    // with null-compatibility on possibly-unbound ones
    g.exists.foreach { case (eg, positive) =>
      val (ed, em) = solutionsOf(store, eg, langVars, typeVars,
        graphVar, named)
      val a = df
      val shared = joinVars(a, ed)
      require(shared.nonEmpty,
        "FILTER EXISTS group must share a variable with the outer group")
      val b = ed.select(ed.columns.map(c => col(c).as(s"__e_$c")).toSeq: _*)
      val loose = shared.filter(c => maybe(c) || em(c)).toSet
      val cond = shared.map(c =>
        if (loose(c)) a(c).isNull || b(s"__e_$c").isNull ||
          a(c) === b(s"__e_$c")
        else a(c) === b(s"__e_$c")).reduce(_ && _)
      df = a.join(b, cond, if (positive) "left_semi" else "left_anti")
    }
    (df, maybe)
  }

  /** Variables the query applies langMatches to, over the whole group
    * tree (nested groups, EXISTS, MINUS, subqueries) — only these need
    * the `__lang` shadow projected at scan time. */
  private def langVarsOf(g: Group): Set[String] =
    filterVarsOf(g) {
      case FFn("langmatches" | "langeq", v, _) => Set(v)
      case FFn("sameterm", v, _) => Set(v) // strict identity wants tags
      case FSameV(a, b) => Set(a, b) // strict identity wants the tags
      case _ => Set.empty
    }

  /** Variables the query applies a term-type test to (isIRI /
    * isLiteral / datatype) — only these need the `__t` vType shadow
    * projected at scan time. */
  private def typeVarsOf(g: Group): Set[String] =
    filterVarsOf(g) {
      case FFn("isiri" | "isuri" | "isliteral" | "datatypeeq", v, _) => Set(v)
      case FSameV(a, b) => Set(a, b) // strict identity wants the types
      case _ => Set.empty
    }

  private def filterVarsOf(g: Group)(
      pick: FExpr => Set[String]): Set[String] = {
    def ofF(e: FExpr): Set[String] = e match {
      case FAnd(l, r) => ofF(l) ++ ofF(r)
      case FOr(l, r) => ofF(l) ++ ofF(r)
      case FNot(x) => ofF(x)
      case other => pick(other)
    }
    def ofG(g: Group): Set[String] =
      g.filters.flatMap(ofF).toSet ++
        g.optionals.flatMap(ofG) ++
        g.unions.flatten.flatMap(ofG) ++
        g.minuses.flatMap(ofG) ++
        g.exists.map(_._1).flatMap(ofG) ++
        g.subqueries.map(_.where).flatMap(ofG) ++
        g.graphs.map(_._2).flatMap(ofG)
    ofG(g)
  }

  /** Variables referenced by a BIND expression. */
  private def bindRefs(e: BExpr): Set[String] = e match {
    case BVar(v) => Set(v)
    case BLit(_) => Set.empty
    case BFn(_, args) => args.flatMap(bindRefs).toSet
    case BArith(l, _, r) => bindRefs(l) ++ bindRefs(r)
    case BCmp(l, _, r) => bindRefs(l) ++ bindRefs(r)
  }

  /** BIND expression compiler → (lexical column, optional numeric
    * shadow). Numeric results render integral values without the
    * trailing `.0` so lexical equality/joins still behave. */
  private def bindCols(e: BExpr, df: DataFrame): (Column, Option[Column]) =
    bindColsC(e, df.columns.toSet)

  private def bindColsC(e: BExpr, cols: Set[String]): (Column, Option[Column]) =
    e match {
      case BVar(v) =>
        require(cols.contains(v), s"BIND references unbound ?$v")
        (col(v),
          if (cols.contains(s"${v}__n")) Some(col(s"${v}__n")) else None)
      case BLit(L(lex, num)) => (lit(lex), num.map(lit(_)))
      case BFn("concat", args) =>
        (concat(args.map(a => bindColsC(a, cols)._1): _*), None)
      case BFn("str", Seq(a)) => (bindColsC(a, cols)._1, None)
      case BFn("ucase", Seq(a)) => (upper(bindColsC(a, cols)._1), None)
      case BFn("lcase", Seq(a)) => (lower(bindColsC(a, cols)._1), None)
      case BFn("strlen", Seq(a)) =>
        val n = length(bindColsC(a, cols)._1).cast("double")
        (numLex(n), Some(n))
      // SUBSTR(str, start[, len]) — 1-based like SPARQL/SQL
      case BFn("substr", args) if args.length == 2 || args.length == 3 =>
        val s = bindColsC(args(0), cols)._1
        val start = bNumOfC(args(1), cols).cast("int")
        val out =
          if (args.length == 2) s.substr(start, length(s))
          else s.substr(start, bNumOfC(args(2), cols).cast("int"))
        (out, None)
      // REPLACE(str, pattern, replacement) — regex, like SPARQL's
      case BFn("replace", Seq(a, p, r)) =>
        val pat = bLitOf(p, "REPLACE pattern")
        val rep = bLitOf(r, "REPLACE replacement")
        (regexp_replace(bindColsC(a, cols)._1, pat, rep), None)
      // STRBEFORE/STRAFTER: empty string when the needle is absent
      // (SPARQL 17.4.3.7-8); literal needle so locate() stays codegen
      case BFn("strbefore", Seq(a, b)) =>
        val s = bindColsC(a, cols)._1
        val d = bLitOf(b, "STRBEFORE needle")
        val at = locate(d, s)
        (when(at > 0, s.substr(lit(1), at - 1)).otherwise(""), None)
      case BFn("strafter", Seq(a, b)) =>
        val s = bindColsC(a, cols)._1
        val d = bLitOf(b, "STRAFTER needle")
        val at = locate(d, s)
        (when(at > 0, s.substr(at + lit(d.length), length(s)))
          .otherwise(""), None)
      case BFn("coalesce", args) if args.nonEmpty =>
        val parts = args.map(bindColsC(_, cols))
        val shadows = parts.map(_._2)
        (coalesce(parts.map(_._1): _*),
          if (shadows.forall(_.nonEmpty))
            Some(coalesce(shadows.map(_.get): _*))
          else None)
      case BFn("if", Seq(c, t, e2)) =>
        val cond = c match {
          case BCmp(l, op, r) => bCmpCol(l, op, r, cols)
          case o => throw new IllegalArgumentException(
            s"IF condition must be a comparison, got $o")
        }
        val (tl, tn) = bindColsC(t, cols)
        val (el, en) = bindColsC(e2, cols)
        // a NULL condition (e.g. a non-numeric value coerced for a
        // numeric compare) must yield NULL — SPARQL's type-error ⇒
        // unbound — not silently pick the else branch; the two-sided
        // `when` leaves the null case unmatched
        (when(cond, tl).when(!cond, el),
          if (tn.nonEmpty && en.nonEmpty)
            Some(when(cond, tn.get).when(!cond, en.get))
          else None)
      // hash functions (SPARQL 17.4.4.12-16) — hex digests of the
      // lexical form; Spark's md5/sha2 are codegen'd
      case BFn("md5", Seq(a)) => (md5(bindColsC(a, cols)._1), None)
      case BFn("sha1", Seq(a)) => (sha1(bindColsC(a, cols)._1), None)
      case BFn("sha256", Seq(a)) =>
        (sha2(bindColsC(a, cols)._1, 256), None)
      case BFn("sha512", Seq(a)) =>
        (sha2(bindColsC(a, cols)._1, 512), None)
      // ENCODE_FOR_URI (17.4.3.11): RFC 3986 percent-encoding of
      // everything outside the unreserved set. url_encode is
      // form-encoding (space → '+'), so patch the one divergence.
      case BFn("encode_for_uri", Seq(a)) =>
        (regexp_replace(url_encode(bindColsC(a, cols)._1), "\\+", "%20"), None)
      // zero-arg builtins (ARQ surface): NOW() is one value per query —
      // current_timestamp is fixed at query start, matching SPARQL
      // 17.4.4.1; UUID()/STRUUID()/BNODE() are fresh per solution
      // (nondeterministic expressions, evaluated executor-side)
      case BFn("now", Seq()) =>
        (date_format(current_timestamp(),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"), None)
      case BFn("uuid", Seq()) =>
        (concat(lit("urn:uuid:"), expr("uuid()")), None)
      case BFn("struuid", Seq()) => (expr("uuid()"), None)
      case BFn("bnode", Seq()) =>
        // keeps the `_:` marker isBlank() tests for
        (concat(lit("_:b"), expr("uuid()")), None)
      case BFn("bnode", Seq(a)) =>
        // one-arg form: stable label per lexical argument (SPARQL
        // 17.4.1.9 maps equal args to the same bnode within a query)
        (concat(lit("_:b"), md5(bindColsC(a, cols)._1)), None)
      // date/time accessors (SPARQL 17.4.5) over xsd:dateTime lexical
      // forms — regexp extraction keeps the row codegen'd, and a
      // non-dateTime argument extracts nothing → null → unbound,
      // matching SPARQL's type-error-is-unbound semantics
      case BFn(f @ ("year" | "month" | "day" | "hours" | "minutes" |
                    "seconds"), Seq(a)) =>
        val pat = f match {
          case "year"    => "^(-?\\d{4,})-\\d{2}-\\d{2}T"
          case "month"   => "^-?\\d{4,}-(\\d{2})-\\d{2}T"
          case "day"     => "^-?\\d{4,}-\\d{2}-(\\d{2})T"
          case "hours"   => "T(\\d{2}):\\d{2}:"
          case "minutes" => "T\\d{2}:(\\d{2}):"
          // SECONDS returns xsd:decimal — keep any fraction
          case "seconds" => "T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)"
        }
        val part = regexp_extract(bindColsC(a, cols)._1, pat, 1)
        // the when-guard keeps the cast off the "" no-match value
        // (ANSI-safe); null flows through as unbound
        val n = when(part =!= "", part.cast("double"))
        // integer parts render via a long cast — same lexical as
        // numLex's decimal chain ("02" → 2 → "2") at a fraction of
        // the cost (these accessors sit N-deep in substituted filter
        // trees; the decimal(38,6) render was the hot path of the
        // datefn query). SECONDS may carry a fraction → full render.
        val lex =
          if (f == "seconds") numLex(n)
          else when(part =!= "", part.cast("long").cast("string"))
        (lex, Some(n))
      // TZ (17.4.5.8): the timezone designator as a simple literal,
      // "" when the dateTime carries none
      case BFn("tz", Seq(a)) =>
        (regexp_extract(bindColsC(a, cols)._1,
          "(Z|[+-]\\d{2}:\\d{2})$", 1), None)
      // TIMEZONE (17.4.5.7): the offset as a canonical
      // xsd:dayTimeDuration lexical; unbound when absent
      case BFn("timezone", Seq(a)) =>
        val t = regexp_extract(bindColsC(a, cols)._1,
          "(Z|[+-]\\d{2}:\\d{2})$", 1)
        val h = substring(t, 2, 2).cast("int")
        val m = substring(t, 5, 2).cast("int")
        val sign = when(substring(t, 1, 1) === "-", lit("-"))
          .otherwise(lit(""))
        val hm = concat(sign, lit("PT"),
          when(h =!= 0, concat(h.cast("string"), lit("H")))
            .otherwise(lit("")),
          when(m =!= 0, concat(m.cast("string"), lit("M")))
            .otherwise(lit("")))
        (when(t === "Z" || (t =!= "" && h === 0 && m === 0), lit("PT0S"))
          .when(t =!= "", hm), None)
      // numeric 1-arg functions
      case BFn(f @ ("abs" | "round" | "floor" | "ceil"), Seq(a)) =>
        val x = bNumOfC(a, cols)
        val n = (f match {
          case "abs" => abs(x)
          case "round" => round(x, 0)
          case "floor" => floor(x)
          case "ceil" => ceil(x)
        }).cast("double")
        (numLex(n), Some(n))
      case BFn(f, args) => throw new IllegalArgumentException(
        s"unsupported BIND function $f/${args.length}")
      case BArith(l, op, r) =>
        val n = op match {
          case "+" => bNumOfC(l, cols) + bNumOfC(r, cols)
          case "-" => bNumOfC(l, cols) - bNumOfC(r, cols)
          case "*" => bNumOfC(l, cols) * bNumOfC(r, cols)
          case "/" => bNumOfC(l, cols) / bNumOfC(r, cols)
          case o => throw new IllegalArgumentException(s"bad BIND op $o")
        }
        (numLex(n), Some(n))
      case BCmp(_, _, _) => throw new IllegalArgumentException(
        "comparison only allowed as IF's condition")
    }

  /** A BIND operand as a numeric column (shadow if present, else cast). */
  private def bNumOfC(x: BExpr, cols: Set[String]): Column = {
    val (lex, num) = bindColsC(x, cols)
    num.getOrElse(lex.cast("double"))
  }

  /** A BIND operand that must be a string literal (regex patterns,
    * needles — keeps the compiled expression codegen-able). */
  private def bLitOf(x: BExpr, what: String): String = x match {
    case BLit(L(lex, _)) => lex
    case o => throw new IllegalArgumentException(
      s"$what must be a string literal, got $o")
  }

  /** One VALUES block → a literal DataFrame (lexical column per
    * variable, numeric shadow where any row is numeric). Inline data is
    * driver-sized by construction — Catalyst broadcasts it into the
    * join like any small relation. */
  private def valuesFrame(store: GraftStore,
                          vc: ValuesClause): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val numeric = vc.vars.indices.map(j => vc.rows.exists(r =>
      r(j).exists { case L(_, Some(_)) => true; case _ => false }))
    val fields = vc.vars.zipWithIndex.flatMap { case (v, j) =>
      StructField(v, StringType, nullable = true) ::
        (if (numeric(j))
          List(StructField(s"${v}__n", DoubleType, nullable = true))
        else Nil)
    }
    def lex(t: Term): String = t match {
      case I(iri) => Rdf.iriToPath(iri)
      case L(l, _) => l
      case o => throw new IllegalArgumentException(s"bad VALUES term $o")
    }
    val rows = vc.rows.map { r =>
      require(r.length == vc.vars.length, "VALUES row arity mismatch")
      org.apache.spark.sql.Row.fromSeq(
        r.zipWithIndex.flatMap { case (t, j) =>
          (t.map(lex).orNull: Any) ::
            (if (numeric(j))
              List(t.flatMap {
                case L(_, n) => n
                case _ => None
              }.map(Double.box).orNull: Any)
            else Nil)
        })
    }
    val spark = store.quads.sparkSession
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(fields.toArray))
  }

  /** Register a custom FILTER function — the engine's analog of the
    * reference's SPARQL IMPORTS (SpHandler.scala:201-203, stored Jena
    * functions): `FILTER myfn(?v, "arg")` dispatches to the Spark UDF
    * `myfn(value, arg): Boolean`. UDFs leave whole-stage codegen, so
    * prefer the builtins where they fit. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: String)(f: (String, String) => Boolean): Unit =
    spark.udf.register(name, f)

  /** `POST /_sp` (SpHandler.scala:165-253, PopulateAndQuery:360-475):
    * PATHS section = search requests whose results populate the
    * queried subgraph; SPARQL runs against just that slice. Here the
    * populate step is a predicate (union of searches = one OR filter
    * over the store), so nothing materializes — the BGP compiler's
    * scans are simply pre-filtered, and Catalyst pushes the
    * subgraph restriction into each pattern's scan. */
  def sp(store: GraftStore, paths: Seq[graft.ops.Search.Request],
         query: String): DataFrame =
    spExpanded(store, paths.map(SpPath(_)), query)

  /** One PATHS line: a search request plus optional expansion of its
    * results before they populate the subgraph — each PATHS line is a
    * full search URI in the reference (SpHandler.scala:165-253), so
    * every traversal param applies: `xg`/`yg` expand, `gqp` filters
    * (applied FIRST, like the search pipeline — a gqp-filtered base
    * then expands). */
  final case class SpPath(req: graft.ops.Search.Request,
                          xg: Option[String] = None,
                          yg: Option[String] = None,
                          gqp: Option[String] = None)

  def spExpanded(store: GraftStore, paths: Seq[SpPath],
                 query: String): DataFrame = {
    import graft.ops.{Graph, Search}
    val members = paths.map { p =>
      var df = Search.run(store, p.req)
      p.gqp.foreach(g => df = Graph.gqp(store, df, g))
      p.xg.foreach(x => df = Graph.xg(store, df,
        Graph.parseXg(x, Graph.refFields(store))))
      p.yg.foreach(y => df = Graph.yg(store, df, y))
      df.select(col("system.path").as("subject"))
    }.reduce(_ union _).distinct()
    val sub = store.quads.join(members, Seq("subject"), "left_semi")
    select(store.scopedTo(sub), query)
  }

  /** Compile + run a SPARQL ASK: one row, one boolean `ask` column.
    * `limit(1)` before the count so a hit short-circuits the scan —
    * Spark stops launching tasks once the first row materializes. */
  def ask(store: GraftStore, query: String): DataFrame = {
    val q = parse(query)
    require(q.ask, "not an ASK query")
    // fail-loud: solution modifiers parse for every query form but
    // would be silently ignored here
    require(q.groupBy.isEmpty && q.having.isEmpty && q.orderBy.isEmpty &&
      q.limit.isEmpty && q.offset.isEmpty,
      "ASK does not take solution modifiers")
    val (ds, named) = datasetOf(store, q)
    solutionsOf(ds, q.where, langVarsOf(q.where), typeVarsOf(q.where),
        None, named)._1
      .select(lit(1).as("one")).limit(1)
      .agg((count(col("one")) > 0).as("ask"))
  }

  /** Compile + run a SPARQL DESCRIBE: every current triple whose
    * subject is a described resource — explicit IRIs and/or every
    * binding of the described variables over WHERE. Output is
    * quads-shaped (subject, predicate, obj) like CONSTRUCT. One
    * semi-join against the quads view; nothing collects. */
  def describe(store: GraftStore, query: String): DataFrame = {
    val q = parse(query)
    require(q.describe.nonEmpty, "not a DESCRIBE query")
    // fail-loud: modifiers would be silently dropped (they'd apply to
    // the solution sequence, not the described triples)
    require(q.groupBy.isEmpty && q.having.isEmpty && q.orderBy.isEmpty &&
      q.limit.isEmpty && q.offset.isEmpty,
      "DESCRIBE does not take solution modifiers")
    val iris = q.describe.collect { case I(iri) => Rdf.iriToPath(iri) }
    val vars = q.describe.collect { case V(v) => v }
    require(iris.size + vars.size == q.describe.size,
      "DESCRIBE takes IRIs and variables only")
    val spark = store.quads.sparkSession
    import spark.implicits._
    val fromVars =
      if (vars.isEmpty) Nil
      else {
        val (ds, named) = datasetOf(store, q)
        val sol = solutionsOf(ds, q.where, langVarsOf(q.where),
          typeVarsOf(q.where), None, named)._1
        vars.map(v => sol.select(col(v).as("subject")))
      }
    val fromIris =
      if (iris.isEmpty) Nil
      else Seq(iris.toDF("subject"))
    val base = store.quads.where(col("current") &&
      col("kind") =!= InfotonModel.KindDeleted)
    // literal-only DESCRIBE: the subject set is known at plan time, so
    // an isin predicate reaches the parquet scan as a pushed filter
    // (row-group skipping over the whole quads layout) — the semi-join
    // form scanned every quad row to probe a broadcast of the same
    // literals, and paid that scan twice under the final sort's
    // range-sampling pass
    if (vars.isEmpty)
      base.where(col("subject").isin(iris: _*))
        .select(col("subject"), col("predicate"), col("s").as("obj"))
    else {
      val subjects = (fromVars ++ fromIris).reduce(_ union _).distinct()
      base.join(subjects, Seq("subject"), "left_semi")
        .select(col("subject"), col("predicate"), col("s").as("obj"))
    }
  }

  /** Dataset clauses → (scan store for default-graph patterns, named
    * context for GRAPH clauses). FROM <g> scopes default-graph scans to
    * the listed graphs' merge; with no FROM the default graph is the
    * union of everything (the reference's Jena dataset behaves the
    * same: every ingested quad is searchable without naming its
    * graph). FROM NAMED restricts GRAPH matching; with no FROM NAMED
    * every named graph is available — a deliberate deviation from the
    * strict spec (which would empty GRAPH when only FROM appears),
    * matching the merge-with-store behavior users expect. */
  private def datasetOf(store: GraftStore, q: Query)
      : (GraftStore, Option[(GraftStore, Seq[String])]) = {
    val named = Some((store, q.fromNamed.map(Rdf.iriToPath)))
    val defStore =
      if (q.fromDefault.isEmpty) store
      else store.scopedTo(store.quads.where(
        col("quad").isin(q.fromDefault.map(Rdf.iriToPath): _*)))
    (defStore, named)
  }

  /** SELECT * resolves to every visible (non-shadow, non-internal)
    * variable of the solution frame, in frame order. */
  private def resolvedSelect(q: Query, sol: DataFrame): Seq[SelectItem] =
    if (q.select.nonEmpty) q.select
    else {
      require(q.groupBy.isEmpty, "SELECT * cannot be grouped")
      val vars = sol.columns
        .filterNot(c => isShadow(c) || c.startsWith("__"))
      require(vars.nonEmpty, "SELECT * over a frame with no variables")
      vars.map(v => SelectItem(None, distinct = false, Some(v), v)).toSeq
    }

  /** Compile + run a SPARQL SELECT against a store.
    *
    * Cache lifetime: an ORDER BY query over a shuffle-free
    * join-of-scans persists its solution frame via
    * [[graft.ops.Caches.persistForSort]] (so the final sort's sample
    * pass does not execute the pipeline twice), and a `p+`/`p*` path
    * registers its closure checkpoints. All of it is result-sized and
    * freed by [[graft.ops.Caches.releaseCaches]], which every harness
    * calls once per query; a LIBRARY caller issuing many queries in
    * one session should do the same after consuming each result, or
    * the entries accumulate for the session's lifetime. */
  def select(store: GraftStore, query: String): DataFrame = {
    val q0 = parse(query)
    require(!q0.ask, "ASK query — use Sparql.ask")
    require(q0.describe.isEmpty, "DESCRIBE query — use Sparql.describe")
    val (ds, named) = datasetOf(store, q0)
    val sol = solutionsOf(ds, q0.where, langVarsOf(q0.where),
      typeVarsOf(q0.where), None, named)._1
    val q = q0.copy(select = resolvedSelect(q0, sol))
    var out =
      if (hasAgg(q)) aggregatedFrame(sol, q)
        .select(q.select.map(it => col(it.alias)): _*)
      else sol.select(q.select.map(it => col(it.alias)): _*)
    if (q.distinct) out = out.distinct()
    // A global ORDER BY range-partitions its child, and building the
    // range bounds runs a SAMPLE pass over the child FIRST — when the
    // child pipeline contains a shuffle, AQE has materialized that
    // stage and the sample reads it cheaply, but an exchange-free
    // pipeline (pushed-filter scans + broadcast joins, the common BGP
    // shape) is EXECUTED TWICE, sample pass then shuffle pass. Persist
    // the solution (result-sized, within-query, [[graft.ops.Caches]]
    // discipline) exactly in that case so the heavy scans run once —
    // but only for join-of-scans shapes (≥2 scans): re-running a
    // single pushed-filter scan costs about what the cache round-trip
    // does, so persisting there is pure overhead.
    if (q.orderBy.nonEmpty) out = graft.ops.Caches.persistForSort(out)
    out = ordered(out, q)
    // OFFSET skips after ordering, LIMIT then takes (SPARQL slice)
    q.offset.foreach(o => out = out.offset(o))
    q.limit.foreach(l => out = out.limit(l))
    out
  }

  private def hasAgg(q: Query): Boolean = {
    val agg = q.select.exists(_.agg.nonEmpty) || q.groupBy.nonEmpty
    // fail-loud policy: HAVING is only applied on the grouped branch,
    // so a query without aggregates would silently ignore it
    require(q.having.isEmpty || agg,
      "HAVING requires an aggregate select item or GROUP BY")
    agg
  }

  private def ordered(df: DataFrame, q: Query): DataFrame =
    if (q.orderBy.isEmpty) df
    else df.orderBy(q.orderBy.map { case (v, asc) =>
      if (asc) col(v).asc_nulls_first else col(v).desc_nulls_last }: _*)

  /** The grouped frame for an aggregate SELECT: group keys + aggregate
    * alias columns, HAVING applied. Aggregates group over the solution
    * multiset; SUM/AVG/MIN/MAX use the numeric shadow when the
    * variable bound an object. */
  private def aggregatedFrame(sol: DataFrame, q: Query): DataFrame = {
    def numOf(v: String): Column =
      if (sol.columns.contains(s"${v}__n")) col(s"${v}__n") else col(v)
    val aggCols = q.select.filter(_.agg.nonEmpty).map { it =>
      val c = (it.agg.get, it.v) match {
        case ("COUNT", None) => count(lit(1))
        case ("COUNT", Some(v)) =>
          if (it.distinct) countDistinct(col(v)) else count(col(v))
        case ("SUM", Some(v)) =>
          if (it.distinct) sum_distinct(numOf(v)) else sum(numOf(v))
        case ("AVG", Some(v)) =>
          if (it.distinct) sum_distinct(numOf(v)) / countDistinct(numOf(v))
          else avg(numOf(v))
        // MIN/MAX are DISTINCT-invariant
        case ("MIN", Some(v)) => min(numOf(v))
        case ("MAX", Some(v)) => max(numOf(v))
        // SAMPLE: any value of the group (SPARQL leaves the choice
        // open; first-non-null is deterministic per partition order
        // only, so downstream oracles should MIN instead when they
        // need stability — the operator itself is spec-faithful)
        case ("SAMPLE", Some(v)) => first(col(v), ignoreNulls = true)
        // GROUP_CONCAT: SPARQL leaves element order undefined —
        // sort lexically so the result is deterministic/oracle-able
        case ("GROUP_CONCAT", Some(v)) =>
          val elems =
            if (it.distinct) collect_set(col(v)) else collect_list(col(v))
          concat_ws(it.sep.getOrElse(" "), sort_array(elems))
        case (a, n) => throw new IllegalArgumentException(s"bad agg $a($n)")
      }
      c.as(it.alias)
    }
    val keys =
      if (q.groupBy.nonEmpty) q.groupBy
      else q.select.filter(_.agg.isEmpty).flatMap(_.v)
    var grouped =
      if (keys.isEmpty) sol.agg(aggCols.head, aggCols.tail: _*)
      else sol.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    // HAVING references the aggregate aliases directly (no shadow
    // columns on an aggregated frame)
    q.having.foreach(h => grouped = grouped.where(havingCol(h)))
    grouped
  }

  /** A subquery `{ SELECT … }` as a joinable solution frame: projected
    * variables keep their lexical + shadow columns; aggregate aliases
    * become new bindings with a canonical lexical rendering (integral
    * values without the trailing `.0`) plus a numeric shadow, so outer
    * FILTERs and joins treat them like any other binding. */
  private def subFrame(store: GraftStore, q0: Query,
                       langVars: Set[String],
                       typeVars: Set[String],
                       graphVar: Option[String] = None,
                       named: Option[(GraftStore, Seq[String])] = None)
      : (DataFrame, Set[String]) = {
    val (sol, maybe) = solutionsOf(store, q0.where, langVars, typeVars,
      graphVar, named)
    val q = q0.copy(select = resolvedSelect(q0, sol))
    val out = if (hasAgg(q)) aggregatedFrame(sol, q) else sol
    // canonical projection: every select item → lexical (+ shadow).
    // Only NUMERIC aggregates get the numLex rendering + __n shadow —
    // numLex goes through decimal(38,6), which nulls any string, so
    // GROUP_CONCAT/SAMPLE (and MIN/MAX over string variables) must
    // project verbatim
    val cols = q.select.flatMap { it =>
      val numericAgg = it.agg.exists {
        case "COUNT" | "SUM" | "AVG" => true
        case "MIN" | "MAX" =>
          it.v.exists(v => sol.columns.contains(s"${v}__n"))
        case _ => false // SAMPLE, GROUP_CONCAT yield strings
      }
      if (numericAgg)
        Seq(numLex(col(it.alias)).as(it.alias),
          col(it.alias).cast("double").as(s"${it.alias}__n"))
      else if (it.agg.nonEmpty) Seq(col(it.alias))
      else
        col(it.alias).as(it.alias) +:
          ShadowSuffixes.filter(s => out.columns.contains(it.alias + s))
            .map(s => col(it.alias + s))
    }
    var proj = out.select(cols: _*)
    if (q.distinct) proj = proj.distinct()
    // ORDER BY is only meaningful under LIMIT inside a subquery (the
    // outer join discards row order). The canonical alias column is a
    // STRING, so order by the numeric shadow where one exists — a
    // lexical sort would rank "9" above "10"
    if (q.orderBy.nonEmpty)
      proj = proj.orderBy(q.orderBy.map { case (v, asc) =>
        val c = if (proj.columns.contains(s"${v}__n")) col(s"${v}__n")
                else col(v)
        if (asc) c.asc_nulls_first else c.desc_nulls_last }: _*)
    q.offset.foreach(o => proj = proj.offset(o))
    q.limit.foreach(l => proj = proj.limit(l))
    (proj, maybe.intersect(
      q.select.filter(_.agg.isEmpty).map(_.alias).toSet))
  }

  /** Compile + run a SPARQL CONSTRUCT: instantiate the template once
    * per solution — the result is a quads-shaped frame
    * (subject, predicate, object), distinct, ready for the nt
    * formatter or re-ingest (SpHandler.scala:630-631 allows exactly
    * SELECT and CONSTRUCT). */
  def construct(store: GraftStore, query: String): DataFrame = {
    val q = parse(query)
    require(q.template.nonEmpty, "not a CONSTRUCT query")
    require(q.having.isEmpty && q.groupBy.isEmpty,
      "CONSTRUCT does not support GROUP BY / HAVING")
    // ORDER BY is meaningless on a constructed graph — fail loud
    // rather than silently drop it; LIMIT/OFFSET slice the solution
    // sequence before template instantiation (SPARQL 16.2)
    require(q.orderBy.isEmpty || q.limit.nonEmpty || q.offset.nonEmpty,
      "CONSTRUCT ORDER BY without LIMIT/OFFSET has no effect")
    val (ds, named) = datasetOf(store, q)
    var bound = solutionsOf(ds, q.where, langVarsOf(q.where),
      typeVarsOf(q.where), None, named)._1
    if (q.orderBy.nonEmpty) bound = ordered(bound, q)
    q.offset.foreach(o => bound = bound.offset(o))
    q.limit.foreach(l => bound = bound.limit(l))
    q.template.map { t =>
      def bind(tm: Term, pred: Boolean): Column = tm match {
        case V(v) => col(v)
        case I(iri) => if (pred) lit(Namespaces.keyOf(iri))
                       else lit(Rdf.iriToPath(iri))
        case L(lex, _) => lit(lex)
        case o => throw new IllegalArgumentException(s"bad template term $o")
      }
      bound.select(bind(t.s, pred = false).as("subject"),
        bind(t.p, pred = true).as("predicate"),
        bind(t.o, pred = false).as("obj"))
    }.reduce(_ unionByName _).distinct()
  }
}
