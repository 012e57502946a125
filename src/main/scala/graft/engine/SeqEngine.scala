package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.SeqQlError
import graft.seqql.{FieldsPipe, Pipe, SeqQlCompiler}

/** Search request mirroring the reference proto
  * (api/seqproxyapi/v1/seq_proxy_api.proto:103-173): seq-ql query,
  * mandatory [from, to] time bounds on MID (inclusive), top-k with
  * offset pagination, order DESC by default.
  */
final case class SearchRequest(
    query: String,
    fromMs: Long,
    toMs: Long,
    size: Int,
    offset: Int = 0,
    asc: Boolean = false)

/** Status RPC response shape (StatusResponse: number_of_stores,
  * oldest_storage_time, per-store detail). */
final case class SeqStatus(
    numberOfStores: Int,
    oldestStorageTimeMs: Option[Long],
    newestStorageTimeMs: Option[Long],
    totalDocs: Long)

sealed trait AggFunc
object AggFunc {
  /** docs per group value (frac/processor/aggregator.go:160-233) */
  case object Count extends AggFunc
  /** distinct group values (aggregator.go:236-283) */
  case object Unique extends AggFunc
  case object Sum extends AggFunc
  case object Min extends AggFunc
  case object Max extends AggFunc
  case object Avg extends AggFunc
  /** discrete quantiles of the field (seq/qpr.go:345-364) */
  final case class Quantile(qs: Seq[Double]) extends AggFunc
}

/** One aggregation request (proto seq_proxy_api.proto:175-183):
  * `field` is the value source (parsed as double — non-numeric tokens
  * fail the query in strict mode, aggregator.go:150-157), `groupBy`
  * buckets by that field's value, `intervalMs` adds time-series
  * sub-buckets keyed by MID − MID % interval (aggregator.go:424-438).
  */
final case class AggRequest(
    func: AggFunc,
    field: String = "",
    groupBy: Option[String] = None,
    intervalMs: Long = 0)

/** The engine: seq-db's read path re-expressed as one declarative
  * DataFrame program per request (SURVEY.md §3.1 "Spark shape").
  * Fan-out over fractions/shards, per-fraction partial results and the
  * coordinator QPR merge (seq/qpr.go:417-462) all collapse into
  * Catalyst's partitioned scan + shuffle + partial/final aggregation.
  */
final class SeqEngine(val table: DocsTable) extends Serializable {

  private val compiler = new SeqQlCompiler(table)
  private def mid = col("mid")
  private def rid = col("rid")

  def compileFilter(query: String): Column = compiler.compile(query).filter

  /** Full compile (filter + pipes); StreamingSearch applies both to
    * live streams. */
  private[graft] def compileQuery(query: String): graft.seqql.CompiledQuery =
    compiler.compile(query)

  /** `Mapping` RPC analogue (seq_proxy_api.proto:54-59, MappingResponse
    * = utf-8 mapping info): the table's mapping as a JSON object
    * field → [index types]. */
  def mappingJson: String = {
    val fields = table.mapping.fields.toSeq.sortBy(_._1).map { case (name, spec) =>
      // Locale.ROOT: default-locale lowercasing is locale-sensitive
      // (Turkish I → ı), same rationale as NfcFoldExpr
      val types = spec.types.map(t =>
        graft.model.Json.quote(t.toString.toLowerCase(java.util.Locale.ROOT)))
        .mkString("[", ",", "]")
      graft.model.Json.quote(name) + ":" + types
    }
    fields.mkString("{", ",", "}")
  }

  /** `Status` RPC analogue (seq_proxy_api.proto:61-66, StatusResponse
    * {number_of_stores, oldest_storage_time, stores}): one logical
    * store backed by the partitioned table; oldest = min(mid) over it.
    */
  def status(): SeqStatus = {
    val row = table.df.agg(
      min(mid).as("oldest"), max(mid).as("newest"), count(lit(1)).as("docs")).collect()(0)
    SeqStatus(
      numberOfStores = 1,
      oldestStorageTimeMs = if (row.isNullAt(0)) None else Some(row.getLong(0)),
      newestStorageTimeMs = if (row.isNullAt(1)) None else Some(row.getLong(1)),
      totalDocs = row.getLong(2))
  }

  /** `[fromMs, toMs]` clamped to the table's actual time range, for an
    * async search's chunk layout: matches outside it cannot exist, and
    * the open-range request every client sends ([0, Long.MaxValue])
    * would otherwise enumerate ~10^14 day chunks and leave the search
    * running forever. A span that misses the table (or an empty table)
    * collapses to the single instant `fromMs`. */
  def clampSpan(fromMs: Long, toMs: Long): (Long, Long) = {
    val st = status()
    val lo = math.max(fromMs, st.oldestStorageTimeMs.getOrElse(fromMs))
    val hi = math.min(toMs, st.newestStorageTimeMs.getOrElse(fromMs))
    if (lo <= hi) (lo, hi) else (fromMs, fromMs)
  }

  /** Time-pruned, filtered, replica-deduplicated doc set. The [from,to]
    * MID range is inclusive on both ends (frac/processor/search.go:211-232).
    */
  def matches(query: String, fromMs: Long, toMs: Long): DataFrame =
    matchesOf(compiler.compile(query), fromMs, toMs, None)

  /** The one match builder: `timeFilter && filter && extra` as a single
    * conjunction over the table, then the replica dedup. */
  private def matchesOf(compiled: graft.seqql.CompiledQuery, fromMs: Long, toMs: Long,
      extra: Option[Column]): DataFrame = {
    val cond = table.timeFilter(fromMs, toMs) && compiled.filter
    val base = table.df.where(extra.fold(cond)(cond && _))
    if (table.dedupReplicas) base.dropDuplicates("mid", "rid") else base
  }

  private def inMidOrder(df: DataFrame, asc: Boolean): DataFrame =
    if (asc) df.orderBy(mid.asc, rid.asc) else df.orderBy(mid.desc, rid.desc)

  /** Top-k search with offset pagination: store-side limit=size+offset,
    * proxy slices the offset after the merge
    * (storeapi/grpc_search.go:95, proxy/search/ingestor.go:121,195-208).
    * In Spark: TakeOrderedAndProject does the global top-(size+offset),
    * then `offset` drops the page prefix.
    */
  def search(req: SearchRequest): DataFrame = {
    val compiled = compiler.compile(req.query)
    val page = inMidOrder(matchesOf(compiled, req.fromMs, req.toMs, None), req.asc)
      .offset(req.offset).limit(req.size)
    applyPipes(page, compiled.pipes)
  }

  /** Ordered match PREFIX under an extra predicate — the building
    * block of serving-layer incremental paging (the reference's O3
    * early termination + O4 incremental fraction scan): a caller that
    * knows the table's physical time layout (e.g. day partitions,
    * where every mid in day D sorts after every mid in D−1) restricts
    * the scan to the newest partitions, takes the top
    * (offset+size) matches, and widens only when the page comes back
    * short — so a point page touches 1/Nth of the corpus instead of
    * all of it. Returns up to `n` rows in the global (mid,rid) order;
    * the result is the exact global prefix whenever it is full
    * (matches outside `extra` are strictly older in the order).
    */
  def searchPrefix(query: String, fromMs: Long, toMs: Long, n: Int,
      asc: Boolean, extra: Column): DataFrame = {
    val compiled = compiler.compile(query)
    applyPipes(inMidOrder(matchesOf(compiled, fromMs, toMs, Some(extra)), asc).limit(n),
      compiled.pipes)
  }

  /** Full streaming export of all matches in time order (S6,
    * proxyapi/grpc_export.go). Consume with toLocalIterator. */
  def export(query: String, fromMs: Long, toMs: Long, asc: Boolean = false): DataFrame = {
    val compiled = compiler.compile(query)
    applyPipes(inMidOrder(matchesOf(compiled, fromMs, toMs, None), asc), compiled.pipes)
  }

  /** `with_total`: count of all matches post-dedup (O6). */
  def total(query: String, fromMs: Long, toMs: Long): DataFrame =
    matches(query, fromMs, toMs).agg(count(lit(1)).as("total"))

  /** Date histogram (H1): bucket = MID − MID % interval, per-bucket doc
    * count (frac/processor/search.go:169-179).
    */
  def histogram(query: String, fromMs: Long, toMs: Long, intervalMs: Long): DataFrame = {
    require(intervalMs > 0, "histogram interval must be positive")
    histogramOver(matches(query, fromMs, toMs), intervalMs)
  }

  /** Date histogram over an already-filtered match set (shared by
    * [[histogram]], gRPC ComplexSearch and the async-search fetch). */
  def histogramOver(m: DataFrame, intervalMs: Long): DataFrame =
    SeqEngine.sortInOnePartition(
      m.groupBy((mid - mid % lit(intervalMs)).as("bucket_ms")).agg(count(lit(1)).as("cnt")),
      col("bucket_ms").asc)

  /** Aggregation (§2.4). Result columns:
    *   - `bucket_ms` when intervalMs > 0,
    *   - `name` (group value as string, `_not_exists` for missing) when
    *     grouped,
    *   - `value` (count / stat), or (`q`,`value`) rows for quantiles.
    * Bucket ordering follows the reference (seq/qpr.go:217-254):
    * MIN → (value asc, name asc); QUANTILE → (name asc, value desc);
    * others → (value desc, name asc); all after bucket_ms asc.
    */
  def aggregate(query: String, fromMs: Long, toMs: Long, agg: AggRequest): DataFrame =
    aggregateOver(matches(query, fromMs, toMs), agg)

  /** Aggregation over an already-filtered match set (shared by
    * [[aggregate]], gRPC ComplexSearch and the async-search fetch). */
  def aggregateOver(m0: DataFrame, agg: AggRequest): DataFrame = {
    // group_by over a text field groups by TOKEN, one contribution per
    // matching token (the reference's SourcedNodeIterator feeding the
    // aggregator per term, node/node_or.go:68-122); docs with no tokens
    // land in `_not_exists` via explode_outer(null).
    val (m, groupCol): (DataFrame, Option[Column]) = agg.groupBy match {
      case Some(g) if table.mapping.isIndexed(g) &&
          table.mapping.typeOf(g) == graft.model.IndexType.Text =>
        val toks = table.tokensCol(g)
        val exploded = m0.withColumn("__gname",
          explode_outer(when(size(toks) > 0, toks)))
        (exploded, Some(col("__gname")))
      case Some(g) => (m0, Some(table.fieldCol(g)))
      case None    => (m0, None)
    }
    val hasBucket = agg.intervalMs > 0
    val bucketCol = (mid - mid % lit(agg.intervalMs)).as("bucket_ms")

    val groupName = groupCol.map(c => coalesce(c.cast(StringType), lit("_not_exists")))
    def nameCol: Column = groupName.get.as("name")

    def groupCols(extra: Column*): Seq[Column] =
      (if (hasBucket) Seq(bucketCol) else Nil) ++ extra

    def sortCols(valueFirstAsc: Boolean, valueDesc: Boolean): Seq[Column] = {
      val bucket = if (hasBucket) Seq(col("bucket_ms").asc) else Nil
      val rest =
        if (valueFirstAsc) Seq(col("value").asc, col("name").asc)
        else if (valueDesc) Seq(col("value").desc, col("name").asc)
        else Seq(col("name").asc)
      bucket ++ rest
    }

    agg.func match {
      case AggFunc.Count =>
        if (agg.groupBy.isEmpty) throw new SeqQlError("COUNT aggregation requires group_by")
        SeqEngine.sortInOnePartition(
          m.groupBy(groupCols(nameCol): _*).agg(count(lit(1)).as("value")),
          sortCols(valueFirstAsc = false, valueDesc = true): _*)

      case AggFunc.Unique =>
        if (agg.groupBy.isEmpty) throw new SeqQlError("UNIQUE aggregation requires group_by")
        SeqEngine.sortInOnePartition(
          m.where(groupCol.get.isNotNull)
            .select(groupCols(groupCol.get.cast(StringType).as("name")): _*)
            .distinct(),
          (if (hasBucket) Seq(col("bucket_ms").asc) else Nil) :+ col("name").asc: _*)

      case f @ (AggFunc.Sum | AggFunc.Min | AggFunc.Max | AggFunc.Avg) =>
        val v = valueCol(agg.field)
        val fn: Column => Column = f match {
          case AggFunc.Sum => sum
          case AggFunc.Min => min
          case AggFunc.Max => max
          case _           => avg
        }
        val grouped = agg.groupBy match {
          case Some(_) => m.groupBy(groupCols(nameCol): _*)
          case None    => m.groupBy(groupCols(): _*)
        }
        val out = grouped.agg(fn(v).as("value"))
        if (agg.groupBy.isEmpty)
          if (hasBucket) SeqEngine.sortInOnePartition(out, col("bucket_ms").asc) else out
        else SeqEngine.sortInOnePartition(out,
          sortCols(valueFirstAsc = f == AggFunc.Min, valueDesc = f != AggFunc.Min): _*)

      case AggFunc.Quantile(qs) =>
        // seq-db's one quantile path (seq/qpr.go:345-415): a seeded
        // sample of at most SeqAggregates.ReservoirCap values per bucket
        // (graft.functions.DetSamplesAggregate), then the discrete
        // quantile at rank round(q*(n-1)) over the sorted sample. Below
        // the cap the sample is complete, so the answer is exact. The
        // sample is independent of partitioning and merge order: its
        // priority is a mix64 of the row identity u = mix64(mid) XOR
        // rid — SQL-replayable (unlike Spark-private xxhash64) and not
        // degenerate where mid == rid (a raw mid XOR rid would be 0 on
        // every row there).
        val frame = m.select(
          (if (hasBucket) mid - mid % lit(agg.intervalMs) else lit(0L)).as("b"),
          groupName.getOrElse(lit("")).as("n"),
          valueCol(agg.field).as("v"),
          graft.functions.VectorExpressions.mix64(mid).bitwiseXOR(rid).as("u"))
        // the untyped form: rows flow through a native hash aggregate
        // with a binary buffer, not a boxing Dataset groupByKey
        val agged = frame.groupBy(col("b"), col("n"))
          .agg(graft.functions.DetSamplesAggregate.column(col("v"), col("u"), qs).as("r"))
        // value-less buckets (only NotExists contributions) carry no
        // quantile rows; a NaN data value still counts as a value
        val rows = agged.where(col("r.total") > 0)
          .select(col("b").as("bucket_ms"), col("n").as("name"),
            posexplode(col("r.quantiles")).as(Seq("pos", "value")))
          .withColumn("q", element_at(lit(qs.toArray), col("pos") + 1))
        val keyNames = (if (hasBucket) Seq("bucket_ms") else Nil) ++
          (if (agg.groupBy.isDefined) Seq("name") else Nil)
        SeqEngine.sortInOnePartition(rows.select(keyNames.map(col) ++ Seq(col("q"), col("value")): _*),
          keyNames.map(c => col(c).asc) :+ col("q").asc: _*)
    }
  }

  /** The value an aggregation reads from `field`, as a double. Numeric
    * columns cast. Any other column parses with `try_cast`, and A3 strict
    * semantics (frac/processor/aggregator.go:150-157: a token that does
    * not parse as a number fails the whole query) are checked inside
    * the aggregate itself: a present value that does not parse raises
    * the query's error, so no separate precheck job runs. Collect with
    * [[SeqEngine.collectStrict]] to surface it as a [[SeqQlError]].
    */
  private def valueCol(field: String): Column = table.fieldType(field) match {
    case Some(DoubleType) | Some(FloatType) | Some(LongType) | Some(IntegerType) =>
      table.fieldCol(field).cast(DoubleType)
    case _ =>
      val raw = table.fieldCol(field)
      val parsed = raw.try_cast(DoubleType)
      when(raw.isNotNull && parsed.isNull, raise_error(lit(SeqEngine.nonNumeric(field))))
        .otherwise(parsed)
  }

  /** A2 UNIQUE cardinality via the deterministic KMV bottom-k sketch
    * (graft.functions.SeqAggregates.KmvAgg) — the at-scale companion
    * to the exact-distinct Unique branch of [[aggregateOver]], the role
    * the bottom-k sample plays for quantiles: memory per bucket
    * is O(k) no matter how many distinct values the bucket holds,
    * partials merge associatively, and the result is independent of
    * partitioning/merge order. Exact below the cap; above it the
    * classic KMV estimate `(k-1)·(2^63−1)/h_k` — computed in exact
    * integer arithmetic over a REPLAYABLE hash (poly-31 → mix64), so
    * an external engine verifies the estimate bit-for-bit (impossible
    * with HLL-family sketches). Output: (bucket_ms?, est_unique).
    */
  def aggregateUniqueSketch(query: String, fromMs: Long, toMs: Long,
      agg: AggRequest, k: Int = 64): DataFrame = {
    val field = agg.groupBy.getOrElse(
      throw new SeqQlError("unique sketch needs a group_by field"))
    if (!table.mapping.isIndexed(field))
      throw new SeqQlError(s"field '$field' is not indexed")
    val m = matches(query, fromMs, toMs)
    val hasBucket = agg.intervalMs > 0
    val bucket = if (hasBucket) mid - mid % lit(agg.intervalMs) else lit(0L)
    val nameC = table.fieldCol(field).cast(StringType)
    import graft.functions.{SeqAggregates, VectorExpressions}
    // priority = mix64(poly31(value)) >>> 1 — uniform on [0, 2^63),
    // dedup happens inside the sketch on the shifted value (the oracle
    // mirrors the same distinct-after-shift order)
    val h63 = shiftrightunsigned(
      VectorExpressions.mix64(VectorExpressions.portableHash(nameC)), 1)
    val spark = table.df.sparkSession
    import spark.implicits._
    val ds = m.where(nameC.isNotNull)
      .select(bucket.as("b"), h63.as("h")).as[(Long, Long)]
    val rows = ds.groupByKey(_._1).mapValues(_._2)
      .agg(SeqAggregates.kmvAgg(k).toColumn)
      .map { case (b, est) => (b, est) }
      .toDF("bucket_ms", "est_unique")
    if (hasBucket) SeqEngine.sortInOnePartition(rows, col("bucket_ms").asc)
    else rows.select(col("est_unique"))
  }

  /** Histogram with a promql-style interval string (`"1h"`, `"30s"`,
    * proto seq_proxy_api.proto:185-188). */
  def histogram(query: String, fromMs: Long, toMs: Long, interval: String): DataFrame =
    histogram(query, fromMs, toMs, graft.model.Intervals.parseMs(interval))

  /** Multi-resolution date histogram: coarse and fine buckets from ONE
    * scan via ROLLUP (Expand + the same partial/final aggregation as
    * [[histogram]] — the reference would run GetHistogram once per
    * interval, re-walking the matching LID set each time;
    * frac/processor/search.go:169-179). Rows with `lvl` = 1 are the
    * coarse summaries (`bucket_fine` null), `lvl` = 0 the fine bins,
    * so a UI zoom renders both without a second query.
    */
  def histogramMultiRes(query: String, fromMs: Long, toMs: Long,
      coarseMs: Long, fineMs: Long): DataFrame = {
    require(fineMs > 0 && coarseMs > fineMs && coarseMs % fineMs == 0,
      "need fineMs > 0 and coarseMs a multiple of fineMs")
    val bins = matches(query, fromMs, toMs)
      .select((mid - mid % lit(coarseMs)).as("bucket_coarse"),
        (mid - mid % lit(fineMs)).as("bucket_fine"))
      .rollup(col("bucket_coarse"), col("bucket_fine"))
      .agg(count(lit(1)).as("cnt"),
        grouping(col("bucket_fine")).cast("long").as("lvl"),
        grouping(col("bucket_coarse")).as("__grand"))
      // mid is never null, so the only all-null row is the rollup's
      // grand total — not part of the histogram contract
      .where(col("__grand") === 0).drop("__grand")
    SeqEngine.sortInOnePartition(bins, col("bucket_coarse").asc, col("lvl").desc, col("bucket_fine").asc)
  }

  /** A3 strict semantics as a standalone precheck action: the
    * reference fails the whole query when any token of the aggregated
    * field doesn't parse as a number (frac/processor/aggregator.go:150-157).
    * [[aggregate]] already enforces this inside the aggregate; this
    * check is for callers that want the verdict without the rows.
    */
  def requireNumericField(query: String, fromMs: Long, toMs: Long, field: String): Unit = {
    table.fieldType(field) match {
      case Some(DoubleType) | Some(FloatType) | Some(LongType) | Some(IntegerType) => ()
      case _ =>
        val bad = matches(query, fromMs, toMs)
          .where(table.fieldCol(field).isNotNull &&
            table.fieldCol(field).try_cast(DoubleType).isNull)
          .limit(1).count()
        if (bad > 0)
          throw new SeqQlError(SeqEngine.nonNumeric(field))
    }
  }

  /** A8 legacy filtered aggregation (parser/query_parser.go:178-205):
    * the aggregated "field" is itself a seq-ql filter; per group, count
    * docs matching it — sum(when(cond, 1)) keeps zero-groups visible.
    */
  def aggregateFiltered(query: String, fromMs: Long, toMs: Long,
      groupBy: String, filterQuery: String): DataFrame = {
    val cond = compileFilter(filterQuery)
    SeqEngine.sortInOnePartition(
      matches(query, fromMs, toMs)
        .groupBy(coalesce(table.fieldCol(groupBy).cast(StringType), lit("_not_exists")).as("name"))
        .agg(sum(when(cond, lit(1L)).otherwise(lit(0L))).as("value")),
      col("value").desc, col("name").asc)
  }

  /** Point lookup by (MID, RID) ids, preserving request order (S5,
    * storeapi/grpc_fetch.go). Ids broadcast-joined against the docs
    * table; MID equality gives partition/row-group pruning for free.
    */
  def fetch(ids: Seq[(Long, Long)]): DataFrame = {
    val spark = table.df.sparkSession
    import spark.implicits._
    val idsDf = ids.zipWithIndex
      .map { case ((m, r), i) => (m, r, i) }
      .toDF("mid", "rid", "__fetch_ord")
    table.df
      .join(broadcast(idsDf), Seq("mid", "rid"), "inner")
      .orderBy(col("__fetch_ord").asc)
      .drop("__fetch_ord")
  }

  /** Fetch by wire-format id strings (`hex(LE mid)-hex(LE rid)`,
    * seq/seq.go:37-53). */
  def fetchByIds(ids: Seq[String]): DataFrame =
    fetch(ids.map(graft.model.SeqId.parse).map(id => (id.mid, id.rid)))

  /** Attach the wire-format id string column (responses carry ids as
    * `hex(LE mid)-hex(LE rid)`). */
  def withIdString(df: DataFrame, as: String = "id"): DataFrame =
    df.withColumn(as,
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.SeqIdStringExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("mid")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("rid")))))

  /** Fields projection pipe (P1): pure output projection; requested
    * fields need not be indexed (storeapi/grpc_fetch.go:168-249).
    * `private[graft]`: StreamingSearch reuses it on live streams. */
  private[graft] def applyPipes(df: DataFrame, pipes: Seq[Pipe]): DataFrame =
    pipes.foldLeft(df) {
      case (d, FieldsPipe(fields, except)) =>
        val cols = fields.map(table.sparkColName)
        if (except) {
          val tokenCols = cols.map(_ + "__tokens")
          d.drop((cols ++ tokenCols): _*)
        } else {
          val keep = Seq("mid", "rid") ++ cols.filter(d.columns.contains)
          val missing = cols.filterNot(d.columns.contains)
          d.select(keep.map(c => col(s"`$c`")) ++
            missing.map(c => lit(null).cast(StringType).as(c)): _*)
        }
    }
}

object SeqEngine {
  private[engine] def nonNumeric(field: String): String =
    s"aggregation field '$field' has non-numeric values"

  /** Sorts an aggregate's output inside one partition. A global
    * `orderBy` plans a range exchange, whose RangePartitioner runs a
    * sampling job and then a map job that each evaluate the final
    * aggregate again; over one partition the sort needs no exchange.
    * The bound: one task now holds every output row, and these rows are
    * one per bucket and group, and collected to the driver anyway.
    * Never use it over raw match rows: `coalesce` is narrow, so it would
    * pull the whole upstream stage into that one task.
    */
  private[graft] def sortInOnePartition(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).orderBy(order: _*)

  /** Collects aggregation rows, rethrowing the strict-A3 failure that
    * the aggregate raises (Spark's `USER_RAISED_EXCEPTION`) as the
    * [[SeqQlError]] it stands for. */
  def collectStrict(df: DataFrame): Array[Row] =
    try df.collect()
    catch {
      case e: Throwable =>
        val raised = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" =>
            t.getMessageParameters.get("errorMessage")
        }
        throw raised.map(new SeqQlError(_)).getOrElse(e)
    }
}
