package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization used for `text`-mapped fields, shared by ingest, the
  * query compiler, and the DuckDB-oracle SQL (which must use the same
  * regex). Reference semantics (tokenizer/text_tokenizer.go:28-106):
  * tokens are maximal runs of letters / digits / `_` / `*`, lower-cased
  * unless case-sensitive mode; everything else is a separator.
  */
object Tokenizers {
  /** Separator regex — identical string must be used in oracle SQL. */
  val SepRegex = "[^a-z0-9_*\\p{L}\\p{N}]+"

  /** Max token length (reference consts/consts.go:25 MaxTokenSize=72). */
  val MaxTokenSize = 72

  /** Native codepoint-loop tokenizer (TokenizeExpr) — semantics match
    * `filter(split(lower(x), SepRegex), _ =!= "")` but ~100× cheaper
    * than the Unicode-property regex. */
  def textTokens(value: Column, caseSensitive: Boolean): Column =
    TokenizeExpr.tokens(value, caseSensitive)

  /** Scala-side tokenizer for ingest-time use (same semantics). */
  def tokenize(value: String, caseSensitive: Boolean): Seq[String] = {
    val base = if (caseSensitive) value else value.toLowerCase
    base.split(SepRegex).toSeq.filter(_.nonEmpty).map { t =>
      if (t.length > MaxTokenSize) t.substring(0, MaxTokenSize) else t
    }
  }
}
