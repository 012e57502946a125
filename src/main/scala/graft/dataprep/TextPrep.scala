package graft.dataprep

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Tokenizers

/** Shared text-preparation columns for the dedup / analysis operators.
  * Every expression here has an exact DuckDB mirror (documented inline)
  * so results are oracle-comparable bit for bit.
  */
object TextPrep {

  /** Word tokens. DuckDB mirror:
    * list_filter(string_split_regex(lower(x), SepRegex), t -> t <> '')
    */
  def tokens(text: Column): Column =
    Tokenizers.textTokens(text, caseSensitive = false)

  /** Distinct word-bigram shingles, the unit for n-gram Jaccard /
    * MinHash. DuckDB mirror:
    * list_distinct(list_filter(list_transform(range(1, greatest(len(t),2)),
    *   i -> t[i] || ' ' || t[i+1]), x -> x IS NOT NULL))
    * (out-of-bounds element access yields NULL in both engines —
    * Spark side uses try_element_at because ANSI mode is on.)
    */
  def bigramShingles(toks: Column): Column =
    array_distinct(filter(
      transform(
        sequence(lit(1), greatest(size(toks) - 1, lit(1))),
        i => concat(try_element_at(toks, i), lit(" "), try_element_at(toks, i + 1))),
      x => x.isNotNull))

  /** Split each document into overlapping fixed-token-budget chunks —
    * the context-window preprocessing step of a training pipeline
    * (long doc → N sequences of ≤ maxTokens tokens, consecutive chunks
    * sharing `overlap` tokens so no span is split across a boundary
    * without context). Output: one row per (doc, chunk): `chunk_id`
    * (0-based), `n_tokens`, `chunk_text` (tokens re-joined with
    * single spaces). Token-less documents drop out. Deterministic:
    * chunk count and boundaries are integer arithmetic on the token
    * count only.
    *
    * Scale: the chunking itself is one narrow pass — tokenize, explode
    * over the computed chunk index range, slice — all map-side. The
    * final orderBy is a global range-exchange sort, present only for
    * the gate's row-order-sensitive compare; a pipeline consumer that
    * doesn't need totally-ordered output should slice it off (or
    * repartition afterwards, which supersedes it anyway).
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxTokens: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .where(col("__n") > 0)
      // n_chunks = 1 + ceil(max(0, n - maxTokens) / stride), in exact
      // integer arithmetic (mirrored by the DuckDB oracle)
      .withColumn("__nc",
        expr(s"1L + (greatest(0L, __n - $maxTokens) + ${stride - 1}) div $stride"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("__nc") - 1)))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(maxTokens)).as("__ctoks"))
      .select(col(idCol), col("chunk_id"),
        size(col("__ctoks")).cast("long").as("n_tokens"),
        array_join(col("__ctoks"), " ").as("chunk_text"))
      .orderBy(col(idCol).asc, col("chunk_id").asc)
  }
}
