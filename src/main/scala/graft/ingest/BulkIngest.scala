package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.DocsTable
import graft.functions.Tokenizers
import graft.model.{IndexType, SeqMapping}

/** Batch ingest: JSON-lines documents → the columnar docs table.
  *
  * Re-expresses the reference's `/_bulk` write path (SURVEY.md §3.2)
  * declaratively: per-document time extraction with drift clamping
  * (proxy/bulk/processor.go:72-126), ID generation (seq/seq.go), and
  * mapping-driven field projection/tokenization (proxy/bulk/indexer.go)
  * all become column expressions over `from_json`, so ingest is a
  * single codegen'd projection — no per-row driver logic.
  */
object BulkIngest {

  /** Time fields probed in order (consts/consts.go:74). */
  val TimeFields: Seq[String] = Seq("timestamp", "time", "ts")

  /** Accepted formats: ES-style, RFC3339(Nano) (consts/consts.go:75).
    * Two bracket-optional patterns (RFC3339 'T' first — the dominant
    * shipper format — then ES-style space separator subsuming the
    * second-precision and millisecond variants), with Spark's own
    * parser as the catch-all. coalesce short-circuits in codegen, so
    * per row this is one successful parse plus however many cheap
    * failures precede it — pattern count is throughput-critical on the
    * ingest hot path.
    */
  private def parseTime(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS][.SSSSSS][.SSS][XXX][X]")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss[.SSSSSSSSS][.SSSSSS][.SSS][XXX][X]")),
    try_to_timestamp(c))

  private def try_to_timestamp(c: Column, fmt: Column): Column =
    call_function("try_to_timestamp", c, fmt)
  private def try_to_timestamp(c: Column): Column =
    call_function("try_to_timestamp", c)

  /** Strip ES bulk action lines (`{"index":{...}}` etc.) from an
    * NDJSON stream, keeping only document lines. The reference pairs
    * action+doc lines (proxyapi/http_bulk.go); action objects have a
    * single `index`/`create`/`delete` key and no other content.
    */
  def stripActionLines(lines: DataFrame, col0: String): Column =
    !col(col0).rlike("""^\s*\{\s*"(index|create|update|delete)"\s*:""")

  /** Spark schema for a mapping (for from_json): dotted/nested mapping
    * names become struct trees; `nested` fields become arrays of
    * structs; `tags` become arrays of {key,value} pairs (SURVEY.md §1.2).
    */
  /** Multi-type dotted names (`message.keyword` alongside `message`
    * text, docs/en/03-index-types.md:130-160) are extra indexes over
    * the SAME json field, not struct children: map alias → base field.
    */
  def aliasFields(mapping: SeqMapping): Map[String, String] =
    mapping.fields.keys.filter(_.contains(".")).flatMap { name =>
      val prefixes = name.split("\\.").inits.drop(1).map(_.mkString(".")).filter(_.nonEmpty)
      prefixes.find { p =>
        mapping.fields.get(p).exists(s =>
          s.mainType != IndexType.Object && s.mainType != IndexType.Nested &&
          s.mainType != IndexType.Tags)
      }.map(name -> _)
    }.toMap

  def schemaFor(mapping: SeqMapping): StructType = {
    val aliases = aliasFields(mapping).keySet
    // build a tree from dotted names
    sealed trait Node
    final case class Leaf(t: IndexType) extends Node
    final case class Branch(children: scala.collection.mutable.LinkedHashMap[String, Node],
        var selfType: Option[IndexType]) extends Node

    val root = Branch(scala.collection.mutable.LinkedHashMap.empty, None)
    for ((name, spec) <- mapping.fields.toSeq.sortBy(_._1) if !aliases.contains(name)) {
      val parts = name.split("\\.")
      var cur = root
      for ((p, i) <- parts.zipWithIndex) {
        if (i == parts.length - 1) {
          cur.children.get(p) match {
            case Some(b: Branch) => b.selfType = Some(spec.mainType)
            case _               => cur.children(p) = Leaf(spec.mainType)
          }
        } else {
          cur.children.get(p) match {
            case Some(b: Branch) => cur = b
            case other =>
              val b = Branch(scala.collection.mutable.LinkedHashMap.empty,
                other.collect { case Leaf(t) => t })
              cur.children(p) = b
              cur = b
          }
        }
      }
    }

    def toDataType(n: Node): DataType = n match {
      case Leaf(IndexType.Tags) =>
        ArrayType(StructType(Seq(
          StructField("key", StringType), StructField("value", StringType))))
      case Leaf(_) => StringType
      case b: Branch =>
        val st = StructType(b.children.toSeq.map { case (k, v) => StructField(k, toDataType(v)) })
        b.selfType match {
          case Some(IndexType.Nested) => ArrayType(st)
          case _                      => st
        }
    }
    toDataType(root).asInstanceOf[StructType]
  }

  /** Project raw JSON lines into the docs table:
    * `mid`, `rid`, `_raw`, plus one column per mapped top-level field
    * (keyword/path → String; text → String + `__tokens`; object/nested
    * subtrees as structs/arrays addressed by dotted paths).
    *
    * Drift rules (proxy/bulk/processor.go:88-99): docs older than
    * `allowedDriftMs` or further than `futureDriftMs` in the future are
    * re-stamped with `requestTimeMs` — late data is never dropped (T2).
    *
    * RID derives from xxhash64 of the raw doc (deterministic stand-in
    * for the reference's random RID — reproducible ingest is worth more
    * than entropy here; collisions only merge exact duplicate docs,
    * which replica dedup O5 treats as duplicates anyway).
    */
  /** Stage 1 — stamp: thin (mid, rid, _raw) rows. Only the three time
    * fields are JSON-parsed here, so the output is cheap to shuffle;
    * the full mapping projection happens in [[expand]] (which
    * [[ingestPartitioned]] runs AFTER the range exchange, keeping the
    * heavy parsed/tokenized columns out of the shuffle).
    */
  def stamp(
      lines: DataFrame,
      requestTimeMs: Long,
      allowedDriftMs: Long = 24L * 3600 * 1000,
      futureDriftMs: Long = 5L * 60 * 1000,
      rawCol: String = "value"): DataFrame = {
    // One fused scan of the raw doc (graft.functions.DocTimeExpr)
    // replaces from_json + try_to_timestamp on the hot path: one
    // top-level walk extracts the time field, then a strict parser
    // decides the two published formats. Rows it cannot decide surface
    // the extracted string and take Spark's general parser below —
    // identical outcomes, but Jackson/DateTimeFormatter run only on
    // the rare residue.
    val utcSession = {
      val tz = lines.sparkSession.sessionState.conf.sessionLocalTimeZone
      java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    }
    val withTimes = lines
      .where(stripActionLines(lines, rawCol))
      .withColumn("_raw", col(rawCol))
      .withColumn("__t", graft.functions.TimeExpressions.docTime(
        col("_raw"), TimeFields, noZoneIsUtc = utcSession))
    val docMs = coalesce(col("__t").getField("ms"),
      unix_millis(parseTime(col("__t").getField("s"))))
    val clamped = when(docMs.isNull, lit(requestTimeMs))
      .when(docMs < lit(requestTimeMs - allowedDriftMs), lit(requestTimeMs))
      .when(docMs > lit(requestTimeMs + futureDriftMs), lit(requestTimeMs))
      .otherwise(docMs)
    withTimes
      .withColumn("mid", clamped)
      .withColumn("rid", pmod(xxhash64(col("_raw")), lit(Long.MaxValue)))
      .select("mid", "rid", "_raw")
  }

  /** Stage 2 — expand: mapping-driven projection + tokenization of
    * stamped rows (a narrow map — preserves any partitioning/order the
    * input already has). `extraCols` are passed through verbatim (same
    * attributes, not recomputed) so a sort established before expand —
    * e.g. [[ingestPartitioned]]'s (date, mid, rid) — remains visible to
    * downstream consumers like FileFormatWriter's required ordering. */
  def expand(stamped: DataFrame, mapping: SeqMapping,
      extraCols: Seq[String] = Nil): DataFrame = {
    val schema = schemaFor(mapping)
    require(!extraCols.exists(schema.fieldNames.contains),
      s"extraCols ${extraCols.mkString(",")} collide with mapped fields")
    val withDoc = stamped.withColumn("__doc", from_json(col("_raw"), schema))
    val topLevel: Seq[Column] = schema.fields.toSeq.map { f =>
      val src = col("__doc").getField(f.name)
      val folded = f.dataType match {
        case StringType if !mapping.caseSensitive &&
            mapping.fields.get(f.name).exists(s => s.mainType != IndexType.Text) =>
          lower(src)
        case _ => src
      }
      folded.as(f.name)
    }
    val tokenCols: Seq[Column] = mapping.fields.values.toSeq
      .filter(s => s.mainType == IndexType.Text && !s.name.contains("."))
      .sortBy(_.name)
      .map(s => Tokenizers.textTokens(col("__doc").getField(s.name), mapping.caseSensitive)
        .as(s.name + "__tokens"))
    withDoc.select(Seq(col("mid"), col("rid"), col("_raw")) ++
      extraCols.map(col) ++ topLevel ++ tokenCols: _*)
  }

  def project(
      lines: DataFrame,
      mapping: SeqMapping,
      requestTimeMs: Long,
      allowedDriftMs: Long = 24L * 3600 * 1000,
      futureDriftMs: Long = 5L * 60 * 1000,
      rawCol: String = "value"): DataFrame =
    expand(stamp(lines, requestTimeMs, allowedDriftMs, futureDriftMs, rawCol), mapping)

  /** Full batch ingest returning a queryable DocsTable (multi-type
    * alias fields resolve to their base column). */
  def ingest(lines: DataFrame, mapping: SeqMapping, requestTimeMs: Long): DocsTable =
    DocsTable(project(lines, mapping, requestTimeMs), mapping,
      columnOverrides = aliasFields(mapping))

  /** End-to-end ingest in the at-scale order: stamp thin (mid, rid,
    * _raw) rows, exchange + sort THOSE (a fraction of the bytes the
    * projected table would move through the shuffle), then run the
    * full mapping projection map-side after the exchange — narrow, so
    * it preserves the (date, mid) clustering and (mid, rid) order —
    * and write day-partitioned sorted parquet.
    *
    * The range exchange SAMPLES its child to pick bounds, so the stamp
    * projection runs twice per batch — an accepted cost, measured
    * cheaper than both alternatives: persisting the thin rows across
    * the exchange (serialize ≈ recompute now that stamp is a fused
    * kernel, plus a batch-sized cache), and a sampling-free hash
    * exchange on time windows (4× slower end-to-end: every task then
    * holds every day → file-per-(task, date) explosion at the writer
    * and whole-day file stats). Contiguous (date, mid) ranges per task
    * are what keep the output file count at tasks-per-day and the
    * per-file mid min/max tight.
    */
  def ingestPartitioned(
      lines: DataFrame,
      mapping: SeqMapping,
      requestTimeMs: Long,
      path: String,
      allowedDriftMs: Long = 24L * 3600 * 1000,
      futureDriftMs: Long = 5L * 60 * 1000): Unit = {
    val staged = DocsWriter.cluster(stamp(lines, requestTimeMs, allowedDriftMs, futureDriftMs))
    // 'date' is passed through expand (same attribute), so the sort
    // above satisfies the writer's required (date) ordering and
    // FileFormatWriter inserts no extra date-only sort — which would
    // cost a second sort AND, being non-stable on (mid, rid), could
    // scramble the in-file clustering
    DocsWriter.overwriteClustered(expand(staged, mapping, extraCols = Seq("date")), path)
  }
}
