package graft.qp

import graft.functions.SlotExists
import graft.model.{GraftStore, InfotonModel}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a [[FieldFilter]] tree into ONE Catalyst `Column` predicate
  * over the `infotons` schema.
  *
  * This is the Spark analog of the reference's whole-tree compile to a
  * single ES bool query (FTSService.applyFiltersToRequest:840-933):
  * because the result is a single declarative predicate, Catalyst
  * pushes the cheap parts into the Parquet scan and evaluates the rest
  * in one `Filter` — no per-filter passes over the data.
  *
  * Generated code: system-field predicates, existence checks and plain
  * value comparisons (`=`, `<`, `<=`, `>`, `>=` on the `n`/`t`/`s`/`b`
  * slots, numeric and date Contains/Like as equality) stay in
  * whole-stage codegen; value comparisons go through
  * [[graft.functions.SlotExists]]. Analyzed Contains and fuzzy Like on
  * strings, `_all`, `system.quad`/`system.lang` and the
  * `system.lastModifiedBy` token ranges need per-element lambdas
  * (`exists`), which Spark evaluates interpreted; one of them takes the
  * whole `Filter` out of codegen. SlotExists carries its comparand as a
  * reference object, not a literal in the generated Java: the source is
  * the same for every value, so the next query of the same shape hits
  * Spark's codegen cache instead of compiling again.
  *
  * Typed dispatch: the reference routes each predicate to the right
  * typed ES field via name-mangling (FTSService.scala:280-300,886-903);
  * here the store's field-type dictionary routes it to the right slot
  * (`n`/`t`/`b`/`s`) of the value struct, so numeric ranges compare
  * doubles, never strings.
  *
  * Should semantics ("SoftBoolean", FTSService.scala:1886-1915): a
  * bool with at least one Must keeps Should clauses non-constraining
  * (scoring only); a bool with no Must requires at least one Should to
  * match.
  */
final class FilterCompiler(store: GraftStore,
                           substringContains: Boolean = false,
                           analyzer: TextAnalyzer = TextAnalyzer.Standard) {
  import FieldOp._
  import ValueOp._
  import InfotonModel._

  def compile(f: FieldFilter): Column = f match {
    case MultiFieldFilter(_, children) => compileBool(children)
    case s: SingleFieldFilter => compileBool(Seq(s))
  }

  private def compileBool(children: Seq[FieldFilter]): Column = {
    val musts = children.filter(_.op == Must).map(positive)
    val mustNots = children.filter(_.op == MustNot).map(c => !positive(c))
    val shoulds = children.filter(_.op == Should).map(positive)
    val hard = musts ++ mustNots
    val withShould =
      if (shoulds.nonEmpty && musts.isEmpty) hard :+ shoulds.reduce(_ || _)
      else hard
    if (withShould.isEmpty) lit(true) else withShould.reduce(_ && _)
  }

  /** The filter's own predicate, ignoring its outer Must/MustNot role. */
  private def positive(f: FieldFilter): Column = f match {
    case MultiFieldFilter(_, children) => compileBool(children)
    case SingleFieldFilter(_, vo, field, value) => single(vo, field, value)
  }

  private def single(vo: ValueOp, field: String,
                     value: Option[String]): Column = {
    // quad filter (`system.quad::alias`, Parsers.scala:615-624) and the
    // analogous lang-tag filter: match infotons with ANY value in the
    // named graph / language. coalesce(false): fields may be null and
    // a null predicate under MustNot would wrongly drop rows.
    if (field == "system.quad" || field == "system.lang") {
      val slot = if (field == "system.quad") "quad" else "lang"
      val v0 = value.getOrElse(
        throw new IllegalArgumentException(s"$field needs a value"))
      // quad comparands resolve alias → graph IRI → stored path form
      // at plan time (RawFieldFilter.scala:104-112)
      val v = if (field == "system.quad") QuadAliases.resolve(v0) else v0
      return coalesce(exists(map_values(col("fields")),
        vs => exists(vs, x => x.getField(slot) === lit(v))), lit(false))
    }
    // `_all` / allFields search (FTSService.scala:881-884): the
    // predicate over every value of every field
    if (field == "_all" || field == "allFields") {
      val v = value.getOrElse(
        throw new IllegalArgumentException("_all needs a value"))
      val pred: Column => Column = vo match {
        case Equals => _.getField("s") === lit(v)
        case _ => c => containsPred(c.getField("s"), v)
      }
      return coalesce(exists(map_values(col("fields")),
        vs => exists(vs, pred)), lit(false))
    }
    if (field.startsWith("system."))
      return systemPredicate(vo, field, value.getOrElse(""))
    // namespace-qualified spellings (`local.prefix`, `$uri$`,
    // `local.$hash`) resolve to the canonical key at plan time
    val canonical = Namespaces.resolve(field)
    val arr = col("fields").getItem(canonical)
    value match {
      case None => // existence (FTSService.scala:909-915)
        arr.isNotNull && size(arr) > 0
      case Some(v) => arr.isNotNull && valueClause(arr, vo, canonical, v)
    }
  }

  /** Contains (`:`) — ES match-phrase analog (FTSService.scala:895-896
    * builds matchPhraseQuery over the analyzed field): both sides run
    * through the same lowercase non-alnum tokenizer and the query's
    * token sequence must appear CONSECUTIVELY in the value's token
    * stream. Implemented as a sentinel-space-joined substring over the
    * normalized tokens — word-boundary exact (no `fred widget` hit for
    * `red widget`, but `red, widget` still matches because the
    * analyzer eats punctuation), fully codegen'd, no UDF.
    *
    * `substringContains` keeps the previous raw lowercase-substring
    * semantics as a documented fallback for analyzer-sensitive text
    * where a byte-level probe is wanted. A zero-token query matches
    * nothing (ES `zero_terms_query=none`) — under the English
    * analyzer that includes a stop-word-only probe.
    *
    * `analyzer` plugs the normalization chain ([[TextAnalyzer]]):
    * Standard reproduces the tokenize-only default; English adds
    * stop-word removal + Porter-lite stemming to BOTH sides. */
  private def containsPred(s: Column, v: String): Column = {
    if (substringContains) return lower(s).contains(lit(v.toLowerCase))
    val toks = analyzer.queryTokens(v)
    if (toks.isEmpty) lit(false)
    else {
      val docToks = analyzer.tokensOf(s)
      if (toks.length == 1) // common case: plain tokenized containment
        array_contains(docToks, toks.head)
      else {
        val joined = concat(lit(" "), array_join(docToks, " "), lit(" "))
        if (toks.contains(TextAnalyzer.PositionGap)) {
          // interior stop-word gaps in the probe: ES keeps the position
          // increment, so the gap slot matches ANY one doc term
          // (including a doc-side gap sentinel) — a codegen'd RLIKE
          val pattern = toks.map {
            case TextAnalyzer.PositionGap => "[^ ]+"
            case t => java.util.regex.Pattern.quote(t)
          }.mkString(" ", " ", " ")
          joined.rlike(pattern)
        } else
          joined.contains(lit(toks.mkString(" ", " ", " ")))
      }
    }
  }

  /** ES AUTO fuzziness: 0 edits below 3 chars, 1 for 3-5, else 2. */
  private def autoFuzz(v: String): Int =
    if (v.length < 3) 0 else if (v.length <= 5) 1 else 2

  /** One value clause over a field's value array. Plain slot
    * comparisons go through [[SlotExists]] (generated code); analyzed
    * Contains and fuzzy Like on strings need a per-element lambda and
    * stay on `exists`. */
  private def valueClause(arr: Column, vo: ValueOp, field: String,
                          v: String): Column = {
    // numeric and date Contains/Like compare for equality
    def cmp(slot: String, value: Column): Column = {
      val op = vo match {
        case Equals | Contains | Like => "="
        case GreaterThan => ">"
        case GreaterThanOrEquals => ">="
        case LessThan => "<"
        case LessThanOrEquals => "<="
      }
      SlotExists.of(arr, slot, op, value)
    }
    store.vTypeOf(field).getOrElse(TString) match {
      case TInt | TLong | TDouble | TFloat => cmp("n", lit(v.toDouble))
      case TDate =>
        // lenient input formats (reference DateParser,
        // Parsers.scala:765-808 accepts date / datetime forms)
        cmp("t", to_timestamp(lit(v.replace("T", " ").stripSuffix("Z"))))
      case TBool => SlotExists.of(arr, "b", "=", lit(v.toBoolean))
      case _ => // string / reference
        vo match {
          case Contains => exists(arr, c => containsPred(c.getField("s"), v))
          case Like => exists(arr, c =>
            levenshtein(lower(c.getField("s")), lit(v.toLowerCase)) <=
              lit(autoFuzz(v)))
          case _ => cmp("s", lit(v))
        }
    }
  }

  private def systemPredicate(vo: ValueOp, field: String,
                              v: String): Column = {
    val c = col(field)
    // system.lastModifiedBy is the ONE system field the reference
    // indexes through a custom content analyzer — the comma tokenizer
    // (indices_template_new.json:13-22,206) — because the merge fold
    // stores the version's contributor set comma-joined
    // (bg/Merger.scala:312). A term or match query therefore hits any
    // ONE contributor token, so Equals and Contains are both
    // comma-token membership here, not whole-string equality.
    if (field == "system.lastModifiedBy")
      // ALL ops match per token — a range query against a
      // comma-analyzed text field compares each emitted token in ES,
      // so 'even,w' > 'm' holds through the 'w' token even though the
      // whole joined string sorts below 'm'.
      return vo match {
        case Equals | Contains => array_contains(split(c, ","), lit(v))
        case Like => exists(split(c, ","),
          t => levenshtein(t, lit(v)) <= lit(autoFuzz(v)))
        case GreaterThan => exists(split(c, ","), t => t > lit(v))
        case GreaterThanOrEquals => exists(split(c, ","), t => t >= lit(v))
        case LessThan => exists(split(c, ","), t => t < lit(v))
        case LessThanOrEquals => exists(split(c, ","), t => t <= lit(v))
      }
    vo match {
      case Equals | Contains => c === lit(v)
      case GreaterThan => c > lit(v)
      case GreaterThanOrEquals => c >= lit(v)
      case LessThan => c < lit(v)
      case LessThanOrEquals => c <= lit(v)
      case Like => levenshtein(c, lit(v)) <= lit(autoFuzz(v))
    }
  }
}
