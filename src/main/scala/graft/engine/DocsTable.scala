package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{SeqMapping, SeqQlError}
import graft.functions.{BoundLongLiteral, Tokenizers}

/** A queryable log table: the Spark-native stand-in for the reference's
  * fraction set (SURVEY.md §1.3). One row = one document.
  *
  * Required columns: `mid` (Long, event-time epoch millis — the
  * reference's MID, seq/seq.go:99-101) and `rid` (Long — the random
  * tie-breaker RID). All other columns are document fields addressed by
  * the mapping. A `text`-mapped field `f` may carry a precomputed token
  * column `f__tokens` (Array[String]); otherwise tokens are derived at
  * query time.
  *
  * `dedupReplicas` replicates the reference's query-time replica
  * de-duplication by (MID, RID) (seq/qpr.go:452-461).
  */
final case class DocsTable(
    df: DataFrame,
    mapping: SeqMapping,
    columnOverrides: Map[String, String] = Map.empty,
    dedupReplicas: Boolean = false,
    /** Optional raw-storage time predicate: given [fromMs, toMs]
      * (inclusive), produce a filter over *physical* columns that can
      * reach the Parquet scan. When `mid` is derived (e.g. from a
      * nanosecond `ts`), filtering on `mid` alone defeats row-group
      * pruning; supplying the equivalent predicate on the source column
      * restores it. The engine ANDs this with the `mid` filter, so it
      * only needs to be an over-approximation (superset of matches).
      */
    timePredicate: Option[(Long, Long) => Column] = None) {

  /** Pushdown-friendly time-range filter: the logical `mid` bound plus
    * the physical over-approximation (Parquet min/max + partition
    * pruning), plus a `date` partition-prune bound when the table is
    * day-partitioned (SURVEY.md §1.3: fraction time pruning). The `mid`
    * bounds are [[BoundLongLiteral]]s, so a new window reuses the
    * compiled classes of the last one with the same query shape.
    */
  def timeFilter(fromMs: Long, toMs: Long): Column = {
    val base = col("mid").between(BoundLongLiteral.column(fromMs), BoundLongLiteral.column(toMs))
    val physical = timePredicate.map(f => f(fromMs, toMs))
    val partition =
      if (df.columns.contains("date")) {
        // clamp to years 1970..9999 so extreme bounds (Long.MaxValue
        // "all time") still render as valid dates
        val maxMs = 253402214400000L // 9999-12-31
        val fromDay = java.time.Instant.ofEpochMilli(fromMs.max(0L).min(maxMs)).toString.take(10)
        val toDay = java.time.Instant.ofEpochMilli(toMs.max(0L).min(maxMs)).toString.take(10)
        Some(col("date").between(lit(fromDay), lit(toDay)))
      } else None
    (Seq(base) ++ physical ++ partition).reduce(_ && _)
  }

  def sparkColName(field: String): String =
    columnOverrides.getOrElse(field, field)

  def fieldCol(field: String): Column = {
    val name = sparkColName(field)
    if (df.columns.contains(name)) col(s"`$name`") else col(name)
  }

  /** Data type of a (possibly nested) field, or None if absent. */
  def fieldType(field: String): Option[DataType] = {
    val name = sparkColName(field)
    if (df.columns.contains(name)) Some(df.schema(name).dataType)
    else {
      // dotted path into struct columns
      val parts = name.split("\\.")
      var dt: DataType = df.schema
      var ok = true
      for (p <- parts if ok) dt match {
        case s: StructType if s.fieldNames.contains(p) => dt = s(p).dataType
        case _ => ok = false
      }
      if (ok) Some(dt) else None
    }
  }

  def hasColumn(field: String): Boolean = fieldType(field).isDefined

  /** Token column for a text field: precomputed `<field>__tokens` if
    * present, else tokenize on the fly. */
  def tokensCol(field: String): Column = {
    val tname = sparkColName(field) + "__tokens"
    if (df.columns.contains(tname)) col(s"`$tname`")
    else Tokenizers.textTokens(fieldCol(field), mapping.caseSensitive)
  }

  def requireIndexed(field: String): Unit =
    if (!mapping.isIndexed(field))
      throw new SeqQlError(s"field '$field' is not indexed (not in mapping)")
}
