package graft.model

/** Index types driving tokenization + query semantics.
  *
  * Faithful to the reference's mapping types (seq/tokenizer.go:22-31,
  * seq/mapping.go:46-56): `keyword` (whole value = one token), `text`
  * (word tokens), `path` (hierarchical prefixes), `exists` (presence
  * only), plus the structural `object`/`nested`/`tags` shapes which in
  * the Spark build are column-level concerns (struct / array / map).
  */
sealed abstract class IndexType(val name: String)
object IndexType {
  case object Keyword extends IndexType("keyword")
  case object Text    extends IndexType("text")
  case object Path    extends IndexType("path")
  case object Exists  extends IndexType("exists")
  case object Object  extends IndexType("object")
  case object Nested  extends IndexType("nested")
  case object Tags    extends IndexType("tags")

  val byName: Map[String, IndexType] =
    Seq(Keyword, Text, Path, Exists, Object, Nested, Tags).map(t => t.name -> t).toMap

  def parse(s: String): IndexType =
    byName.getOrElse(s.trim.toLowerCase,
      throw new IllegalArgumentException(s"unknown index type: $s"))
}

/** One indexed field: its main type plus extra dotted sub-indexes
  * (reference: one field may carry several index types with implicit
  * dotted names, e.g. `message` text + `message.keyword` —
  * docs/en/03-index-types.md:130-160, seq/mapping.go:125-166).
  */
final case class FieldSpec(name: String, types: Seq[IndexType]) {
  def mainType: IndexType = types.head
}

/** Searchable-field registry. Only mapped fields may be filtered on;
  * filtering on an unmapped field is a query error (F11,
  * parser/seqql_filter.go:24-27). With `indexAll` every field is
  * keyword-indexed (nil-mapping test mode, proxy/bulk/indexer.go:67-79).
  *
  * `caseSensitive=false` replicates the reference default: tokens are
  * lower-cased at both index and parse time (--case-sensitive flips it,
  * tokenizer/text_tokenizer.go, parser/token_literal.go:42-47).
  */
final case class SeqMapping(
    fields: Map[String, FieldSpec],
    indexAll: Boolean = false,
    caseSensitive: Boolean = true) {

  def spec(field: String): Option[FieldSpec] =
    fields.get(field).orElse(
      if (indexAll) Some(FieldSpec(field, Seq(IndexType.Keyword))) else None)

  def typeOf(field: String): IndexType =
    spec(field).map(_.mainType).getOrElse(
      throw new SeqQlError(s"field '$field' is not indexed (not in mapping)"))

  def isIndexed(field: String): Boolean = spec(field).isDefined
}

class SeqQlError(msg: String) extends RuntimeException(msg)

object SeqMapping {
  def of(pairs: (String, IndexType)*): SeqMapping =
    SeqMapping(pairs.map { case (n, t) => n -> FieldSpec(n, Seq(t)) }.toMap)

  val indexAll: SeqMapping = SeqMapping(Map.empty, indexAll = true)

  def loadYaml(path: String): SeqMapping =
    parseYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Parse the reference's mapping YAML shape (benchmarks/configs/seqdb/
    * mapping.yaml): a `mapping-list:` of `{name, type}` items, multi-type
    * fields via a nested `types:` list (entry `title` gives the dotted
    * suffix), and `object`/`nested` carrying a child `mapping-list` whose
    * fields are addressed `parent.child`. Tiny indentation-based subset
    * parser — no external YAML dependency.
    */
  def parseYaml(text: String): SeqMapping = {
    final case class Line(indent: Int, isItem: Boolean, key: String, value: String)
    val lines = text.linesIterator.zipWithIndex
      .map { case (raw, i) => (raw.replaceAll("#.*$", "").replaceAll("\\s+$", ""), i) }
      .filter(_._1.trim.nonEmpty)
      .map { case (l, i) =>
        val indent = l.takeWhile(_ == ' ').length
        val t = l.trim
        val isItem = t.startsWith("- ") || t == "-"
        val body = if (isItem) t.drop(1).trim else t
        val (k, v) = body.split(":", 2) match {
          case Array(k0, v0) => (k0.trim, v0.trim.stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'"))
          case Array(k0)     => (k0.trim, "")
        }
        Line(indent, isItem, k, v)
      }
      .toVector

    // Group flat lines into item maps: an item starts at a `- ` line; its
    // continuation lines share deeper-or-equal indentation until next `- `
    // at the same indent.
    def parseList(ls: Vector[Line], prefix: String): Map[String, FieldSpec] = {
      if (ls.isEmpty) return Map.empty
      val itemIndent = ls.head.indent
      val starts = ls.zipWithIndex.collect { case (l, i) if l.isItem && l.indent == itemIndent => i }
      starts.zipAll(starts.drop(1), -1, ls.length).flatMap { case (s, e) =>
        val item = ls.slice(s, e)
        // own attributes = the item-start line plus continuation lines at
        // the item's own indentation — deeper lines belong to sub-lists
        val contIndent = item.drop(1).filterNot(_.isItem).map(_.indent).minOption
        val own = item.head +: item.drop(1).filter(l => !l.isItem && contIndent.contains(l.indent))
        val attrs = own.filter(l => l.value.nonEmpty).map(l => l.key -> l.value).toMap
        val name = attrs.getOrElse("name", "")
        if (name.isEmpty) Map.empty[String, FieldSpec]
        else {
          val full = if (prefix.isEmpty) name else s"$prefix.$name"
          attrs.get("type").map(IndexType.parse) match {
            case Some(IndexType.Object) | Some(IndexType.Nested) =>
              val childIdx = item.indexWhere(l => l.key == "mapping-list")
              val children =
                if (childIdx < 0) Map.empty[String, FieldSpec]
                else parseList(item.drop(childIdx + 1), full)
              val selfType = attrs("type") match {
                case "nested" => Map(full -> FieldSpec(full, Seq(IndexType.Nested)))
                case _        => Map.empty[String, FieldSpec]
              }
              children ++ selfType
            case Some(t) =>
              Map(full -> FieldSpec(full, Seq(t)))
            case None =>
              // multi-type field: `types:` sub-list of {type, title?}
              val typesIdx = item.indexWhere(l => l.key == "types")
              if (typesIdx < 0) Map.empty[String, FieldSpec]
              else {
                val sub = item.drop(typesIdx + 1)
                val subIndent = if (sub.nonEmpty) sub.head.indent else 0
                val subStarts = sub.zipWithIndex.collect { case (l, i) if l.isItem && l.indent == subIndent => i }
                val entries = subStarts.zipAll(subStarts.drop(1), -1, sub.length).map { case (s2, e2) =>
                  val it = sub.slice(s2, e2)
                  val m = it.map(l => l.key -> l.value).toMap
                  (m.get("title"), IndexType.parse(m.getOrElse("type", "keyword")))
                }
                entries.zipWithIndex.map { case ((title, t), i) =>
                  val fname = title match {
                    case Some(suffix) => s"$full.$suffix"
                    case None if i == 0 => full
                    case None => s"$full.${t.name}"
                  }
                  fname -> FieldSpec(fname, Seq(t))
                }.toMap
              }
          }
        }
      }.toMap
    }

    val start = lines.indexWhere(_.key == "mapping-list")
    if (start < 0) SeqMapping(Map.empty)
    else SeqMapping(parseList(lines.drop(start + 1), ""), caseSensitive = false)
  }
}
