package graft.seqql

/** seq-ql AST. Shapes follow the reference grammar
  * (docs/en/05-seq-ql.md; parser/ast_node.go:8-11,
  * parser/token_literal.go, parser/token_range.go) but the
  * representation is our own: filters compile to Catalyst `Column`
  * expressions, so the AST stays purely syntactic.
  */
sealed trait SeqAst

/** `field:value` full-text filter (keyword/text/path semantics decided
  * by the mapping at compile time). `value` keeps wildcard structure.
  */
final case class FullText(field: String, value: Pattern) extends SeqAst

/** `field:in(a, b*, 'c d')` — OR of full-text filters on one field. */
final case class InFilter(field: String, values: Seq[Pattern]) extends SeqAst

/** `field:[a, b)` — bound of None means `*` (unbounded). */
final case class RangeFilter(
    field: String,
    lo: Option[String], loInclusive: Boolean,
    hi: Option[String], hiInclusive: Boolean) extends SeqAst

/** `_exists_:field` — docs where the field was present. */
final case class ExistsFilter(field: String) extends SeqAst

/** `*` — match-all (reference: `_all_:*`, parser/seqql.go:351-360). */
case object MatchAll extends SeqAst

final case class And(left: SeqAst, right: SeqAst) extends SeqAst
final case class Or(left: SeqAst, right: SeqAst) extends SeqAst
final case class Not(child: SeqAst) extends SeqAst

/** A parsed term value: literal runs and `*` wildcards.
  * `a*b` → Seq(Lit("a"), Star, Lit("b")).
  */
final case class Pattern(parts: Vector[Pattern.Part]) {
  import Pattern._
  def hasWildcard: Boolean = parts.exists(_ == Star)
  /** Exact string when no wildcard present. */
  def exact: String = parts.collect { case Lit(s) => s }.mkString
  def isEmpty: Boolean = parts.isEmpty || (!hasWildcard && exact.isEmpty)
  /** Render to a SQL LIKE pattern, escaping `%`/`_`/`\` with `\`. */
  def toLike: String = parts.map {
    case Star   => "%"
    case Lit(s) => s.flatMap {
      case '%'  => "\\%"
      case '_'  => "\\_"
      case '\\' => "\\\\"
      case c    => c.toString
    }
  }.mkString
  def lowerCased: Pattern = Pattern(parts.map {
    case Lit(s) => Lit(s.toLowerCase)
    case p      => p
  })
  /** Raw text form with `*` for wildcards (used to re-tokenize values
    * queried against text fields, parser/seqql_filter.go:240-293). */
  def rawText: String = parts.map { case Star => "*"; case Lit(s) => s }.mkString
  override def toString: String = rawText
}
object Pattern {
  sealed trait Part
  case object Star extends Part
  final case class Lit(s: String) extends Part
  def exact(s: String): Pattern = Pattern(Vector(Lit(s)))
  /** Collapse adjacent stars/literals. */
  def normalize(p: Pattern): Pattern = {
    val out = Vector.newBuilder[Part]
    var lastStar = false
    val sb = new StringBuilder
    for (part <- p.parts) part match {
      case Star =>
        if (sb.nonEmpty) { out += Lit(sb.toString); sb.clear() }
        if (!lastStar) out += Star
        lastStar = true
      case Lit(s) =>
        lastStar = false
        sb ++= s
    }
    if (sb.nonEmpty) out += Lit(sb.toString)
    Pattern(out.result())
  }
}

sealed trait Pipe
/** `| fields a, b` / `| fields except a, b` (parser/seqql_pipes.go). */
final case class FieldsPipe(fields: Seq[String], except: Boolean) extends Pipe

/** A full parsed query: filter tree + pipes. */
final case class SeqQuery(ast: SeqAst, pipes: Seq[Pipe])
