package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{AggFunc, AggRequest, DocsTable, SeqEngine, SearchRequest}
import graft.tables.TestTables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 through
  * the engine; `oracleSql` holds the equivalent ANSI SQL the driver runs
  * in DuckDB over the same parquet. Column names and row order are
  * aligned on both sides. Float-valued aggregates are expressed as
  * exact integers (per-row round to cents, integer sum) so the compare
  * is bit-stable across engines.
  */
object SparkEntry {

  // Time window constants (events spans Jan 2024, TESTDATA.md).
  private val T0  = 1704067200000L // 2024-01-01T00:00:00Z
  private val T02 = 1704153600000L // 2024-01-02T00:00:00Z
  private val T15 = 1705276800000L // 2024-01-15T00:00:00Z
  private val T31 = 1706745599999L // 2024-01-31T23:59:59.999Z

  private def ev(s: SparkSession, dir: String): SeqEngine =
    new SeqEngine(TestTables.eventsDocs(s, dir))
  private def docs(s: SparkSession, dir: String): SeqEngine =
    new SeqEngine(TestTables.documentsDocs(s, dir))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ev(spark, "/root/testdata/sf0.001")
      .search(SearchRequest("event_type:error and value:[10, *]", T0, T31, size = 100))
      .select("mid", "rid", "event_type", "value")

  // DuckDB-side mid expression.
  private val M = "epoch_ms(ts)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- F1 keyword equality + O1 time-ordered top-k ----
    "seq_search_keyword" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:error", T02, T15, size = 100))
        .select("mid", "rid", "event_type", "value")),

    // ---- S4 analogue: token-Bloom file pruning under a selective
    //      conjunctive lookup (same semantics as plain search — the
    //      sidecar only narrows the file list) ----
    "seq_search_keyword_bloom" -> ((s, dir) => {
      val q = "user_id:42 and event_type:error"
      new SeqEngine(TestTables.eventsDocsBloom(s, dir, q))
        .search(SearchRequest(q, T02, T15, size = 100))
        .select("mid", "rid", "user_id", "event_type")
    }),

    // ---- S5 + S4: point-lookup fetch with DISJUNCTIVE bloom pruning
    //      (a batch of ids is an OR — union of per-id survivor files) ----
    "seq_fetch_ids_bloom" -> ((s, dir) => {
      val rids = Seq(5L, 105L, 205L, 305L, 405L)
      val t = TestTables.eventsDocsFetchBloom(s, dir, rids)
      val ids = t.df.where(col("rid").isin(rids: _*)).select("mid", "rid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
      new SeqEngine(t).fetch(ids).select("mid", "rid", "event_type", "value")
    }),

    // ---- F8 boolean algebra (and/or/not) ----
    "seq_search_bool" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest(
        "(event_type:click or event_type:view) and not user_id:7", T02, T15, size = 200))
        .select("mid", "rid", "event_type", "user_id")),

    // ---- F5 in() + F3 wildcard ----
    "seq_search_in_wildcard" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:in(err*, sign*)", T02, T15, size = 150))
        .select("mid", "rid", "event_type")),

    // ---- F5 in() with exact numeric values (BASELINE status:in scenario) ----
    // literals chosen to actually hit rows at sf0.01 — a 0-row result
    // would make the oracle compare vacuous
    "seq_search_in_numeric" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("value:in(5.52, 1.87, 7.4)", T02, T15, size = 200))
        .select("mid", "rid", "value")),

    // ---- F4 numeric range on a typed column ----
    "seq_search_range_numeric" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("value:[100, 200)", T02, T15, size = 300))
        .select("mid", "rid", "value")),

    // ---- F4 lexicographic range on a string column ----
    "seq_search_range_text" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:[click, purchase]", T02, T15, size = 300))
        .select("mid", "rid", "event_type")),

    // ---- F6 _exists_ + numeric range over a string (dotted JSON) field ----
    "seq_search_exists_json" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("_exists_:props.k and props.k:[50, *]", T02, T15, size = 300))
        .select("mid", "rid", "props_k")),

    // ---- F7 match-all + O2 offset pagination ----
    "seq_search_page_offset" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("*", T02, T15, size = 50, offset = 100))
        .select("mid", "rid", "event_type")),

    // ---- O1 ascending order variant ----
    "seq_search_asc" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:signup", T02, T15, size = 80, asc = true))
        .select("mid", "rid", "event_type")),

    // ---- P1 fields pipe ----
    "seq_fields_pipe" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest(
        "event_type:purchase | fields event_type, value", T02, T15, size = 500))),

    // ---- O6 with_total ----
    "seq_total" -> ((s, dir) =>
      ev(s, dir).total("value:[0, 100)", T0, T31)),

    // ---- H1 date histogram ----
    "seq_histogram_1h" -> ((s, dir) =>
      ev(s, dir).histogram("event_type:error", T0, T31, 3600000L)),

    // ---- A1 count group_by ----
    "seq_agg_count_by_type" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Count, groupBy = Some("event_type")))),

    // ---- A2 unique ----
    "seq_agg_unique" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Unique, groupBy = Some("event_type")))),

    // ---- A3 max (A6: value desc, name asc) ----
    "seq_agg_max_by_type" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Max, field = "value", groupBy = Some("event_type")))),

    // ---- A3 min with A6 bucket ordering ----
    "seq_agg_min_by_type" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Min, field = "value", groupBy = Some("event_type")))),

    // ---- A3 sum/avg, float-stable via exact cents ----
    "seq_agg_sum_avg_cents" -> ((s, dir) =>
      ev(s, dir).matches("*", T0, T31)
        .groupBy(col("event_type").as("name"))
        .agg(
          sum(col("value_cents")).as("sum_cents"),
          count(lit(1)).as("cnt"))
        .withColumn("avg_value", col("sum_cents") / lit(100.0) / col("cnt"))
        .orderBy(col("name").asc)),

    // ---- A4 discrete quantiles ----
    "seq_agg_quantile" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Quantile(Seq(0.5, 0.9, 0.99)), field = "value",
          groupBy = Some("event_type")))),

    // ---- A4 via the deterministic bottom-k sketch (the oracle replays
    // the sample selection itself — exact above AND below the cap) ----
    "seq_agg_quantile_sketch" -> ((s, dir) =>
      ev(s, dir).aggregateQuantileSketch("*", T0, T31,
        AggRequest(AggFunc.Quantile(Seq(0.5, 0.9, 0.99)), field = "value",
          groupBy = Some("event_type")))),

    // ---- A4 auto-route forced onto the sketch plan: cap far below
    // the sf0.01 per-type bucket sizes, so this exercises the
    // above-threshold branch (no per-group window sort in the plan;
    // QuantileRouteSpec asserts it) ----
    "seq_agg_quantile_auto" -> ((s, dir) =>
      ev(s, dir).aggregateQuantileAuto("*", T0, T31,
        AggRequest(AggFunc.Quantile(Seq(0.5, 0.9, 0.99)), field = "value",
          groupBy = Some("event_type")), cap = 256L)),

    // ---- A5 time-series bins ----
    "seq_agg_timeseries_day" -> ((s, dir) =>
      ev(s, dir).aggregate("*", T0, T31,
        AggRequest(AggFunc.Count, groupBy = Some("event_type"), intervalMs = 86400000L))),

    // ---- S5 fetch by ids (point lookup, request order preserved) ----
    "seq_fetch_ids" -> ((s, dir) => {
      val t = TestTables.eventsDocs(s, dir)
      val rids = Seq(5L, 105L, 205L, 305L, 405L)
      val ids = t.df.where(col("rid").isin(rids: _*)).select("mid", "rid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
      new SeqEngine(t).fetch(ids).select("mid", "rid", "event_type", "value")
    }),

    // ---- O5 replica dedup: doubled input, query-time dedup by id ----
    "seq_dedup_replica" -> ((s, dir) => {
      val t = TestTables.eventsDocs(s, dir)
      val doubled = t.copy(df = t.df.union(t.df), dedupReplicas = true)
      new SeqEngine(doubled)
        .search(SearchRequest("event_type:purchase", T02, T15, size = 120))
        .select("mid", "rid", "event_type")
    }),

    // ---- F2 text multi-token AND (phrase = bag of words) ----
    "seq_text_phrase" -> ((s, dir) =>
      docs(s, dir).search(SearchRequest("text:'key order'", 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id", "lang")),

    // ---- S4 analogue over the corpus table: text-token + path-prefix
    //      Bloom pruning under a conjunctive phrase query ----
    "seq_text_bloom" -> ((s, dir) => {
      val q = "text:'key order' and src_path:/src7"
      new SeqEngine(TestTables.documentsDocsBloom(s, dir, q))
        .search(SearchRequest(q, 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id", "lang")
    }),

    // ---- F4 lexicographic range over TEXT TOKENS (dictionary walk) ----
    "seq_text_range" -> ((s, dir) =>
      docs(s, dir).search(SearchRequest("text:[q, r]", 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id")),

    // ---- P1 fields except variant ----
    "seq_fields_except" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest(
        "event_type:signup | fields except props, props_k, value, value_cents, ts",
        T02, T15, size = 100))),

    // ---- F3 suffix wildcard ----
    "seq_search_wildcard_suffix" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:*up", T02, T15, size = 150))
        .select("mid", "rid", "event_type")),

    // ---- F3 wildcard over text tokens ----
    "seq_text_wildcard" -> ((s, dir) =>
      docs(s, dir).search(SearchRequest("text:quer*", 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id")),

    // ---- path-type prefix semantics ----
    "seq_path_prefix" -> ((s, dir) =>
      docs(s, dir).search(SearchRequest("src_path:/src1", 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id", "src_path")),

    // ---- TPC-H Q1-style scan+agg (float-stable) ----
    "tpch_q1" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sum_base_cents"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)")).as("sum_disc_e4"),
          sum(expr("CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5) AS BIGINT)")).as("sum_charge_e6"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- TPC-H Q6: the pure predicate-pushdown scan (every filter
    //      reaches the parquet reader; one partial+final agg, no
    //      shuffle of row data) ----
    "tpch_q6" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1994-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1995-01-01 00:00:00")) &&
          // integer-cent bounds, not BETWEEN on doubles: 0.05 has no
          // exact binary representation, so compare the e2 mirror
          expr("CAST(round(l_discount * 100) AS BIGINT)").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)"))
          .as("revenue_e4"))),

    // ---- TPC-H Q3-style join + top-k (broadcast dimension) ----
    "tpch_q3_topk" -> ((s, dir) => {
      val cust = TestTables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val ord = TestTables.orders(s, dir)
        .where(col("o_orderdate") < to_timestamp(lit("1997-06-30 00:00:00")))
      val li = TestTables.lineitem(s, dir)
        .where(col("l_shipdate") > to_timestamp(lit("1997-06-30 00:00:00")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- TPC-H Q5 proper: 6-table join, region + order-year slice.
    //      Dimension chain (region→nation) and supplier broadcast; the
    //      two fact sides (lineitem ⋈ filtered orders, then customer)
    //      stay shuffle joins — at 100 TB neither fits an executor, and
    //      AQE upgrades them to broadcast at small SF on its own. ----
    "tpch_q5" -> ((s, dir) => {
      val nat = TestTables.nation(s, dir).join(
        broadcast(TestTables.region(s, dir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      val ord = TestTables.orders(s, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      TestTables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(TestTables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(TestTables.customer(s, dir),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(expr(
          "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"))
          .as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("n_name").asc)
    }),

    // ---- TPC-H Q5-style multi-join revenue rollup ----
    "tpch_revenue_by_nation" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir)
      val sup = TestTables.supplier(s, dir)
      val nat = TestTables.nation(s, dir)
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)")).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_e4").desc, col("n_name").asc)
    }),

    // ---- F3 middle/contains wildcard ----
    "seq_search_wildcard_mid" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("event_type:*ur*", T02, T15, size = 200))
        .select("mid", "rid", "event_type")),

    // ---- F4 open upper bound, exclusive ----
    "seq_search_range_open" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest("value:(*, 5)", T02, T15, size = 200))
        .select("mid", "rid", "value")),

    // ---- F8/F9 negated disjunction (De Morgan handled by Catalyst) ----
    "seq_search_not_or" -> ((s, dir) =>
      ev(s, dir).search(SearchRequest(
        "not (event_type:click or event_type:view or event_type:purchase)", T02, T15, size = 200))
        .select("mid", "rid", "event_type")),

    // ---- path prefix at depth 2 (exact leaf level) ----
    "seq_path_deep" -> ((s, dir) =>
      docs(s, dir).search(SearchRequest("src_path:/src2/en", 0L, Long.MaxValue, size = 1000))
        .select("mid", "rid", "doc_id", "src_path")),

    // ---- A8 filtered aggregation (agg field is itself a filter) ----
    "seq_agg_filtered" -> ((s, dir) =>
      ev(s, dir).aggregateFiltered("*", T0, T31, "event_type", "value:[400, *]")),

    // ---- H1 with promql-style interval string ----
    "seq_histogram_6h" -> ((s, dir) =>
      ev(s, dir).histogram("event_type:view", T0, T31, "6h")),

    // ---- H1 multi-resolution: 6h summaries + 1h bins, ONE scan
    //      (ROLLUP; the reference re-runs GetHistogram per interval) ----
    "seq_histogram_rollup" -> ((s, dir) =>
      ev(s, dir).histogramMultiRes("event_type:error", T0, T31,
        coarseMs = 21600000L, fineMs = 3600000L)),

    // ---- S6 export: full ordered result stream (no top-k) ----
    "seq_export" -> ((s, dir) =>
      ev(s, dir).export("user_id:[140, *]", T0, T31, asc = true)
        .select("mid", "rid", "user_id")),

    // ---- A1 over a text field: group by TOKEN (J6 nodeOrAgg parity) ----
    "seq_agg_count_text_tokens" -> ((s, dir) =>
      docs(s, dir).aggregate("*", 0L, Long.MaxValue,
        AggRequest(AggFunc.Count, groupBy = Some("text")))),

    // ---- sessionization: inactivity-gap session rollup per user ----
    "events_sessionize" -> ((s, dir) =>
      dataprep.Sessionize.sessions(
        TestTables.eventsDocs(s, dir).df, "user_id", "mid", "rid", gapMs = 1800000L)),

    // ---- (entity, time) needle over the Z-ordered events copy: the
    //      zone-map sidecar prunes files on user_id AND mid before the
    //      scan (ZOrder + ZoneMapIndex scaladoc) ----
    "events_zorder_lookup" -> ((s, dir) =>
      TestTables.eventsZOrderLookup(s, dir, 42L, T0, T15)
        .select(col("event_id"), col("mid"), col("event_type"), col("value_cents"))
        .orderBy(col("mid").asc, col("event_id").asc)),

    // ---- as-of join: each purchase enriched with the user's latest
    //      prior click (union + running window — one shuffle, no
    //      inequality join; see AsofJoin scaladoc) ----
    "events_asof" -> ((s, dir) => {
      val ev = TestTables.eventsDocs(s, dir).df
      dataprep.AsofJoin.asofLatestWithTime(
        left = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("mid"), col("user_id"), col("value_cents")),
        right = ev.where(col("event_type") === "click"),
        keyCol = "user_id", leftTime = "mid", rightTime = "mid",
        rightTieCol = "event_id",
        payload = Seq("value_cents" -> "click_cents"),
        matchedTimeCol = "click_mid")
        .orderBy(col("event_id").asc)
    }),

    // ---- ordered conversion funnel: view → click → purchase ----
    "events_funnel" -> ((s, dir) =>
      dataprep.Sessionize.funnel(
        TestTables.eventsDocs(s, dir).df, "user_id", "mid", "event_type",
        Seq("view", "click", "purchase"))),

    // ==== training-data pipeline operators (dataprep package) ====

    // ---- exact dedup: hash-groupBy ----
    "dp_dedup_exact" -> ((s, dir) =>
      dataprep.Dedup.exactGroups(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- n-gram Jaccard near-dup pairs with length blocking ----
    "dp_dedup_ngram" -> ((s, dir) =>
      dataprep.Dedup.ngramJaccardPairs(TestTables.documents(s, dir),
        "doc_id", "text", "n_chars", maxLenDiff = 25, thresholdNum = 3, thresholdDen = 10)),

    // ---- containment pairs (prefix-filtered, exact-verified).
    //      maxDfFrac exercises the scale path: shingles in >10% of
    //      docs are dropped from candidate generation (verification
    //      stays exact); at θ=0.9 a true pair's evidence is never
    //      only stop-shingles here, so the oracle match is exact. ----
    //      maxDfAbs bounds posting lists independently of corpus size
    //      (inactive at gate SF where the fractional cap is tighter;
    //      the knob that keeps candidate volume linear at scale) ----
    "dp_dedup_containment" -> ((s, dir) =>
      dataprep.Dedup.containmentPairs(TestTables.documents(s, dir),
        "doc_id", "text", thresholdNum = 9, thresholdDen = 10,
        maxDfFrac = 0.1, maxDfAbs = 500L)),

    // ---- MinHash + LSH near-dup pairs (exact-verified candidates) ----
    "dp_dedup_minhash_lsh" -> ((s, dir) =>
      dataprep.Dedup.minhashLshPairs(TestTables.documents(s, dir),
        "doc_id", "text", numHashes = 128, bands = 32, thresholdNum = 1, thresholdDen = 2)),

    // ---- near-dup clusters: pairs → connected components → canonical rep ----
    "dp_dedup_clusters" -> ((s, dir) => {
      val d = TestTables.documents(s, dir)
      val pairs = dataprep.Dedup.minhashLshPairs(d,
        "doc_id", "text", numHashes = 128, bands = 32, thresholdNum = 1, thresholdDen = 2)
        .select("id_a", "id_b")
      dataprep.Dedup.clusters(d, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy("doc_id")
    }),

    // ---- dedup report: cluster-size histogram (size-1 rows = uniques;
    //      1 - Σn_clusters/Σn_docs = corpus duplicate rate) ----
    "dp_dedup_stats" -> ((s, dir) => {
      val d = TestTables.documents(s, dir)
      val pairs = dataprep.Dedup.minhashLshPairs(d,
        "doc_id", "text", numHashes = 128, bands = 32, thresholdNum = 1, thresholdDen = 2)
        .select("id_a", "id_b")
      dataprep.Dedup.clusters(d, "doc_id", pairs)
        .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy("cluster_size")
    }),

    // ---- soft dedup: weight = 1/cluster_size, no row dropped ----
    "dp_dedup_soft" -> ((s, dir) => {
      val d = TestTables.documents(s, dir)
      val pairs = dataprep.Dedup.minhashLshPairs(d,
        "doc_id", "text", numHashes = 128, bands = 32, thresholdNum = 1, thresholdDen = 2)
        .select("id_a", "id_b")
      dataprep.Dedup.softDedupWeights(d.select("doc_id", "source"), "doc_id", pairs)
        .select(col("doc_id"), col("source"), col("rep").as("rep_id"),
          col("cluster_size"), col("weight"))
        .orderBy("doc_id")
    }),

    // ---- SimHash near-dup pairs (banded; oracle = O(n^2) portable-simhash SQL) ----
    "dp_dedup_simhash" -> ((s, dir) =>
      dataprep.Dedup.simhashPairs(TestTables.documents(s, dir), "doc_id", "text", maxHamming = 3)),

    // ---- embedding cosine near-dup pairs ----
    "dp_embed_neardup" -> ((s, dir) =>
      dataprep.Dedup.embeddingNearDupPairs(TestTables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4)),

    // ---- SemDeDup-style semantic dedup: one survivor per cosine cluster ----
    "dp_dedup_semantic" -> ((s, dir) => {
      val e = TestTables.embeddings(s, dir)
      val pairs = dataprep.Dedup.embeddingNearDupPairs(e,
          "vec_id", "embedding", threshold = 0.4)
        .select("id_a", "id_b")
      dataprep.Dedup.dropNearDuplicates(e.select("vec_id", "label"), "vec_id", pairs)
        .orderBy("vec_id")
    }),

    // ---- MMR diversity re-rank (distributed pool, KB-sized greedy) ----
    "dp_mmr" -> ((s, dir) =>
      dataprep.Similarity.mmrTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryId = 0L, poolSize = 20, k = 5,
        lambdaNum = 7, lambdaDen = 10)),

    // ---- ANN: brute-force dot-product top-k ----
    "dp_ann_topk" -> ((s, dir) =>
      dataprep.Similarity.bruteForceTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- hard-negative mining: top-k most similar with a DIFFERENT
    //      label (per-query exclusion), for contrastive training ----
    "dp_hard_negatives" -> ((s, dir) =>
      dataprep.Similarity.hardNegatives(TestTables.embeddings(s, dir),
        "vec_id", "embedding", "label", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- triplet mining: anchor + nearest same-label positive +
    //      top-k hard negatives, the full contrastive tuple ----
    "dp_triplet_mine" -> ((s, dir) =>
      dataprep.Similarity.tripletMine(TestTables.embeddings(s, dir),
        "vec_id", "embedding", "label", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)),

    // ---- incremental near-dup: new batch vs persisted band index ----
    "dp_dedup_incremental" -> ((s, dir) =>
      TestTables.documentsIncrementalDedup(s, dir)),

    // ==== streaming operators driven through the REAL Structured
    //      Streaming path (file-source micro-batches over the static
    //      corpus, foreachBatch parquet sinks — StreamingGate) so the
    //      streaming family answers to the same DuckDB oracle as the
    //      batch operators (reference: proxy/bulk/ingestor.go — the
    //      ingest path is seq-db's most-used surface) ====

    // ---- exact first-wins streaming dedup, 3 id-ordered batches ----
    "dp_stream_dedup" -> ((s, dir) =>
      graft.tables.StreamingGate.documentsStreamDedup(s, dir)),

    // ---- streaming near-dedup vs the persisted MinHash index ----
    "dp_stream_neardedup" -> ((s, dir) =>
      graft.tables.StreamingGate.documentsStreamNearDedup(s, dir)),

    // ---- flatMapGroupsWithState sessionization, sentinel-flushed ----
    "dp_stream_sessionize" -> ((s, dir) =>
      graft.tables.StreamingGate.eventsStreamSessionize(s, dir)),

    // ---- watermarked live per-type daily counts (A1/H1 as a stream) ----
    "seq_stream_livecount" -> ((s, dir) =>
      graft.tables.StreamingGate.eventsStreamLiveCounts(s, dir)),

    // ---- streaming span removal: batch rewritten vs the removal
    //      index, then self-rewritten, through the real pipeline ----
    "dp_stream_spanremove" -> ((s, dir) =>
      graft.tables.StreamingGate.documentsStreamSpanRemoval(s, dir)),

    // ---- live follow-search: seq-ql filter over a raw JSON line
    //      stream (drift re-stamp included), batch top-k over the sink ----
    "seq_stream_follow" -> ((s, dir) =>
      graft.tables.StreamingGate.eventsStreamFollow(s, dir)),

    // ---- ANN: hybrid filtered search (metadata pre-filter + top-k) ----
    "dp_ann_filtered" -> ((s, dir) =>
      dataprep.Similarity.filteredTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        pred = col("label") === 2)),

    // ---- per-label embedding centroids (integer micro-unit sums) ----
    "dp_centroids" -> ((s, dir) =>
      dataprep.Similarity.groupCentroids(TestTables.embeddings(s, dir),
        "label", "embedding")),

    // ---- distributed Lloyd k-means on the e6 integer lattice (cell
    //      assignment for cluster-balanced sampling / SemDeDup prep) ----
    "dp_kmeans" -> ((s, dir) =>
      dataprep.Similarity.kmeansAssign(TestTables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)),

    // ---- cluster-balanced selection: kmeans cells → exactly-k
    //      uniform per cell (same priority sampler as
    //      dp_sample_stratified, partitioned by CELL) ----
    "dp_cluster_sample" -> ((s, dir) => {
      val cells = dataprep.Similarity.kmeansAssign(TestTables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 2).select(col("id"), col("cell"))
      dataprep.Sampling.stratifiedSample(cells, "cell", "id", k = 25)
        .select(col("cell"), col("sample_rank"), col("id"))
        .orderBy("cell", "sample_rank")
    }),

    // ---- int8 quantization (exploded to scalars, integer-verifiable) ----
    "dp_quantize_int8" -> ((s, dir) =>
      dataprep.Similarity.quantizeInt8(TestTables.embeddings(s, dir),
        "vec_id", "embedding")),

    // ---- ANN over the int8-quantized corpus (integer dot core) ----
    "dp_ann_int8" -> ((s, dir) =>
      dataprep.Similarity.int8TopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- two-stage retrieval: int8 shortlist → exact float re-rank ----
    "dp_ann_int8_rerank" -> ((s, dir) =>
      dataprep.Similarity.int8RerankTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        shortlist = 50)),

    // ---- embedding-space decontamination (label 0 = the benchmark) ----
    "dp_decontaminate_embed" -> ((s, dir) => {
      val em = TestTables.embeddings(s, dir)
      dataprep.Similarity.embeddingDecontaminate(
        em.where(col("label") =!= 0), em.where(col("label") === 0),
        "vec_id", "embedding", threshold = 0.35)
    }),

    // ---- ANN: random-hyperplane LSH-bucketed variant (oracle mirrors planes) ----
    "dp_ann_lsh" -> ((s, dir) =>
      dataprep.Similarity.lshTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: IVF cell-probing variant (oracle mirrors deterministic centroids) ----
    "dp_ann_ivf" -> ((s, dir) =>
      dataprep.Similarity.ivfTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: persisted cell-partitioned IVF index (build once,
    //      queries read only probed cell partitions) ----
    "dp_ann_ivf_indexed" -> ((s, dir) =>
      TestTables.embeddingsIvfTopK(s, dir, queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: product quantization ADC scan (m=4 subspaces × 8
    //      codes, integer-lattice codebooks → bit-replayable) ----
    "dp_ann_pq" -> ((s, dir) =>
      dataprep.Similarity.pqTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: PQ shortlist + exact integer re-rank (the IVF-PQ
    //      two-stage shape at 10^9 vectors) ----
    "dp_ann_pq_rerank" -> ((s, dir) =>
      dataprep.Similarity.pqRerankTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        shortlist = 40)),

    // ---- ANN: IVF-PQ composition (probe cells, ADC the survivors —
    //      equi-joins only, the FAISS IVFPQ shape) ----
    "dp_ann_ivfpq" -> ((s, dir) =>
      dataprep.Similarity.ivfPqTopK(TestTables.embeddings(s, dir),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- A4 + A5: per-day quantiles (time-series) ----
    "seq_agg_quantile_ts" -> ((s, dir) =>
      ev(s, dir).aggregate("event_type:purchase", T0, T31,
        AggRequest(AggFunc.Quantile(Seq(0.5)), field = "value",
          groupBy = Some("event_type"), intervalMs = 604800000L))),

    // ---- A2 + A5: per-week distinct group values ----
    "seq_agg_unique_ts" -> ((s, dir) =>
      ev(s, dir).aggregate("value:[200, *]", T0, T31,
        AggRequest(AggFunc.Unique, groupBy = Some("event_type"),
          intervalMs = 604800000L))),

    // ---- A2 at scale: deterministic KMV distinct-count sketch
    //      (exact below cap, integer-replayable estimate above) ----
    "seq_agg_unique_sketch" -> ((s, dir) =>
      ev(s, dir).aggregateUniqueSketch("*", T0, T31,
        AggRequest(AggFunc.Unique, groupBy = Some("user_id"),
          intervalMs = 604800000L), k = 64)),

    // ---- cohort retention triangle (weekly) ----
    "events_retention" -> ((s, dir) => {
      val src = TestTables.raw(s, dir, "events")
      dataprep.Retention.cohorts(
        src.select(col("user_id"), TestTables.tsMid(src).as("mid")),
        "user_id", "mid", intervalMs = 604800000L)
    }),

    // ---- language ID ----
    "dp_lang_id" -> ((s, dir) =>
      dataprep.TextAnalysis.langId(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- quality scoring ----
    "dp_quality" -> ((s, dir) =>
      dataprep.TextAnalysis.qualityScore(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- Gopher quality rules (Rae et al. 2021): integer-only
    //      decision, whitespace words ----
    "dp_gopher_rules" -> ((s, dir) =>
      dataprep.TextAnalysis.gopherRules(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- token counting ----
    "dp_token_counts" -> ((s, dir) =>
      dataprep.TextAnalysis.tokenCounts(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- text normalization (NFC + case fold + whitespace collapse) ----
    "dp_normalize" -> ((s, dir) =>
      dataprep.TextAnalysis.normalizeText(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- document fingerprint ----
    "dp_fingerprint" -> ((s, dir) =>
      dataprep.TextAnalysis.fingerprint(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- PII redaction over raw JSON payloads ----
    "dp_pii_redact" -> ((s, dir) =>
      dataprep.TextAnalysis.redactPii(TestTables.raw(s, dir, "events"), "event_id", "props", digitRunRe = "[0-9]{2,}")),

    // ---- token-budget quality selection: best docs until budget ----
    "dp_quality_budget" -> ((s, dir) => {
      val scored = dataprep.TextAnalysis
        .withQualityScore(TestTables.documents(s, dir), "text")
        .select(col("doc_id"), col("quality_score"),
          col("n_tokens").as("n_toks"))
      dataprep.Packing.selectByBudget(scored,
          Seq(col("quality_score").desc, col("doc_id").asc),
          "n_toks", budget = 10000L)
        .select("doc_id", "quality_score", "n_toks", "cum")
        .orderBy("doc_id")
    }),

    // ---- deterministic hash split (train/val/test) ----
    "dp_split" -> ((s, dir) =>
      dataprep.Sampling.split(
          TestTables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // ---- domain mixing: deterministic per-source keep rates ----
    "dp_weighted_mix" -> ((s, dir) =>
      dataprep.Sampling.weightedMix(
          TestTables.documents(s, dir).select("doc_id", "source"), "doc_id", "source",
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .orderBy("doc_id")),

    // ---- deterministic stratified sample (k smallest priorities per group) ----
    // ---- temperature-balanced domain mixing (p_g ∝ c_g^alpha) ----
    "dp_temperature_mix" -> ((s, dir) =>
      dataprep.Sampling.temperatureMix(
        TestTables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang").orderBy("doc_id")),

    "dp_sample_stratified" -> ((s, dir) =>
      dataprep.Sampling.stratifiedSample(
          TestTables.documents(s, dir).select("doc_id", "lang"), "lang", "doc_id", k = 20)
        .select(col("lang"), col("sample_rank"), col("doc_id"))
        .orderBy("lang", "sample_rank")),

    // ---- decontamination: benchmark n-gram overlap report ----
    "dp_decontaminate" -> ((s, dir) =>
      dataprep.Decontaminate.report(TestTables.documents(s, dir), "doc_id", "text",
        col("doc_id") % 20 === 0, minOverlap = 5)),

    // ---- map-side bloom decontamination. Oracle = the EXACT-path SQL:
    //      the bloom (2^22 bits, 5 hashes) is sized for ~zero false
    //      positives at gate SF, so its upper-bound report must equal
    //      the exact report bit-for-bit; a red row here is the FP-rate
    //      alarm. n_overlap_max aliased to the exact path's n_overlap
    //      for the comparison. ----
    "dp_decontaminate_bloom" -> ((s, dir) => {
      val d = TestTables.documents(s, dir)
      val bloom = dataprep.Decontaminate.benchBloom(d, "doc_id", "text",
        col("doc_id") % 20 === 0, numBits = 1 << 22, numHashes = 5)
      dataprep.Decontaminate.reportBloom(d, "doc_id", "text",
        col("doc_id") % 20 === 0, minOverlap = 5, bloom)
        .withColumnRenamed("n_overlap_max", "n_overlap")
    }),

    // ---- multimodal binary plumbing: sniffed decode over text
    //      payloads (no magic bytes -> the declared fallback route) ----
    "dp_multimodal_stub" -> ((s, dir) =>
      dataprep.Multimodal.extractFeatures(
        dataprep.Multimodal.withTextPayload(TestTables.documents(s, dir), "text", "payload"),
        "doc_id", "payload")),

    // ---- multimodal: magic-byte dispatch over a MIXED corpus — PNG
    //      and WAV payloads route to the REAL codecs (full pixel /
    //      PCM decode), text to the fallback; every decoded feature
    //      is id arithmetic the oracle recomputes ----
    "dp_multimodal_sniff" -> ((s, dir) =>
      dataprep.Multimodal.extractFeatures(
        dataprep.Multimodal.withMixedPayload(
          TestTables.documents(s, dir), "doc_id", "text", "payload"),
        "doc_id", "payload")
        .select(col("id"), col("kind"), col("width"), col("height"), col("channels"))),

    // ---- multimodal: REAL codec path — PNG built by the actual
    //      writer (signature + CRC'd big-endian IHDR), decoded back by
    //      the actual parser; the oracle recomputes the dimensions the
    //      id encodes, so a decode that misreads any field goes red ----
    "dp_multimodal_png" -> ((s, dir) =>
      dataprep.Multimodal.decodePngMeta(
        dataprep.Multimodal.withPngPayload(
          TestTables.documents(s, dir).select("doc_id"), "doc_id", "png"),
        "doc_id", "png")),

    // ---- multimodal: FULL pixel path — real deflate-compressed
    //      scanlines (filter cycle exercises all five PNG filters),
    //      decoded back by the actual inflate+unfilter; the oracle
    //      re-enumerates every 8-bit sample from the closed-form
    //      pixel function, so any raster/filter/zlib bug shifts
    //      pixel_sum and goes red ----
    "dp_multimodal_pixels" -> ((s, dir) =>
      dataprep.Multimodal.decodePngPixels(
        dataprep.Multimodal.withPngPixelPayload(
          TestTables.documents(s, dir).select("doc_id"), "doc_id", "png"),
        "doc_id", "png")),

    // ---- multimodal: the FULL PNG raster model — 16-bit samples,
    //      half the streams Adam7-interlaced; the oracle re-enumerates
    //      every big-endian 16-bit sample from the closed form, so any
    //      pass-geometry, per-pass unfilter, or sample-assembly bug
    //      shifts sample_sum and goes red ----
    "dp_multimodal_png16" -> ((s, dir) =>
      dataprep.Multimodal.decodePngRaster(
        dataprep.Multimodal.withPngRasterPayload(
          TestTables.documents(s, dir).select("doc_id"), "doc_id", "png"),
        "doc_id", "png")),

    // ---- multimodal: REAL audio codec — RIFF/WAVE PCM built by the
    //      actual writer, decoded back by the actual chunk-walking
    //      parser; the oracle re-enumerates every signed 16-bit sample
    //      from the closed-form function, so any byte-order, chunk
    //      framing, or sign-extension bug shifts sample_sum and goes
    //      red ----
    "dp_multimodal_wav" -> ((s, dir) =>
      dataprep.Multimodal.decodeWavSamples(
        dataprep.Multimodal.withWavPayload(
          TestTables.documents(s, dir).select("doc_id"), "doc_id", "wav"),
        "doc_id", "wav")),

    // ---- multimodal: frame sampling (decimated fixed-record framing,
    //      bounded output per doc, partition-preserving flatMap) ----
    "dp_frames" -> ((s, dir) =>
      dataprep.Multimodal.sampleFrames(
        dataprep.Multimodal.withTextPayload(TestTables.documents(s, dir), "text", "payload"),
        "doc_id", "payload", frameLen = 64, everyNth = 2, maxFrames = 5)),

    // ---- multimodal: integer-rational resize planning ----
    "dp_resize" -> ((s, dir) =>
      dataprep.Multimodal.resizePlan(
        dataprep.Multimodal.withTextPayload(TestTables.documents(s, dir), "text", "payload"),
        "doc_id", "payload", maxW = 320, maxH = 240)),

    // ---- sequence packing into fixed-token-budget shards
    //      (two-phase distributed prefix sum, no global window) ----
    "dp_pack" -> ((s, dir) =>
      dataprep.Packing.packShards(
        TestTables.documents(s, dir)
          .select(col("doc_id"),
            size(dataprep.TextPrep.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 1024L)),

    // ---- blob shard manifest: binary payloads assigned to 4 KiB
    //      shards with contiguous within-shard offsets ----
    "dp_blob_manifest" -> ((s, dir) =>
      dataprep.Multimodal.blobShardManifest(
        dataprep.Multimodal.withTextPayload(TestTables.documents(s, dir), "text", "payload"),
        "doc_id", "payload", budgetBytes = 4096L)),

    // ---- deterministic epoch shuffle (reproducible total order) ----
    "dp_shuffle" -> ((s, dir) =>
      dataprep.Sampling.deterministicShuffle(
        TestTables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "shuffle_key")),

    // ---- boundary-crossing sequence packing: docs laid into fixed
    //      512-token examples, splitting across boundaries ----
    "dp_seq_pack" -> ((s, dir) =>
      dataprep.Packing.packSequences(
        TestTables.documents(s, dir)
          .select(col("doc_id"),
            size(dataprep.TextPrep.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 512L)),

    // ---- chunk → pack composition: context-window slices assigned to
    //      token-budget shards (the full sequence-prep path) ----
    "dp_chunk_pack" -> ((s, dir) =>
      dataprep.Packing.packShards(
        dataprep.TextPrep.chunkTokens(TestTables.documents(s, dir),
            "doc_id", "text", maxTokens = 20, overlap = 5)
          // dense orderable chunk key; chunk counts are < 1000 per doc
          // at any document length the tokenizer can produce here
          .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
            col("n_tokens")),
        "cid", "n_tokens", budget = 1024L)),

    // ---- Gopher-style repetition quality signals ----
    "dp_repetition" -> ((s, dir) =>
      dataprep.TextAnalysis.repetitionStats(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- corpus vocabulary: top-50 word bigrams ----
    "dp_ngram_freq" -> ((s, dir) =>
      dataprep.CorpusStats.ngramFreq(TestTables.documents(s, dir), "text", n = 2, topK = 50)),

    // ---- cross-doc duplicate trigram fraction (boilerplate signal) ----
    "dp_dup_ngram_frac" -> ((s, dir) =>
      dataprep.CorpusStats.dupNgramFraction(TestTables.documents(s, dir),
        "doc_id", "text", n = 3, minDf = 2)),

    // ---- context-window chunking (overlapping token-budget slices) ----
    "dp_chunk" -> ((s, dir) =>
      dataprep.TextPrep.chunkTokens(TestTables.documents(s, dir),
        "doc_id", "text", maxTokens = 20, overlap = 5)),

    // ---- passage-level dedup: fixed-window substring dedup (keep the
    //      globally-first occurrence of every 8-token passage) ----
    "dp_passage_dedup" -> ((s, dir) =>
      dataprep.Dedup.passageDedup(TestTables.documents(s, dir),
        "doc_id", "text", passageTokens = 8).orderBy("doc_id")),

    // ---- exact duplicate-substring pairs: docs sharing a rare
    //      24-char window (maxDf=50 excludes boilerplate windows —
    //      part of the declared semantics, mirrored in the oracle) ----
    "dp_dedup_substring" -> ((s, dir) =>
      dataprep.Dedup.substringDupPairs(TestTables.documents(s, dir),
        "doc_id", "text", k = 24, maxDf = 50L)),

    // ---- winnowed-fingerprint variant (SIGMOD'03): the scale path.
    //      The md5-string selection order makes the whole fingerprint
    //      choice oracle-checkable cross-engine, not just the pair
    //      detection; SubstringDedupSpec proves the w+k-1 guarantee ----
    "dp_dedup_substring_winnow" -> ((s, dir) =>
      dataprep.Dedup.substringDupPairsWinnowed(TestTables.documents(s, dir),
        "doc_id", "text", k = 24, w = 8, maxDf = 50L)),

    // ---- incremental substring dedup: new batch probed against the
    //      persisted winnowed-window index (df sidecar caps hot
    //      windows before the posting join) ----
    "dp_dedup_substring_incr" -> ((s, dir) =>
      TestTables.documentsIncrementalSubstring(s, dir)),

    // ---- duplicate-span REMOVAL (the Lee et al. rewrite pass):
    //      chars covered by a 24-window first seen in an earlier doc
    //      are excised; the first doc keeps its text untouched ----
    "dp_dedup_substring_remove" -> ((s, dir) =>
      dataprep.Dedup.removeDuplicateSpans(TestTables.documents(s, dir),
        "doc_id", "text", k = 24)),

    // ---- span attribution: the removal audit (who borrows from
    //      whom), attributed to the global first owner ----
    "dp_span_attribution" -> ((s, dir) =>
      dataprep.Dedup.spanAttribution(TestTables.documents(s, dir),
        "doc_id", "text", k = 24)),

    // ---- incremental span removal: the batch (doc_id % 5 == 0) is
    //      rewritten against the rest of the corpus's persisted
    //      full-window index ----
    "dp_dedup_substring_remove_incr" -> ((s, dir) =>
      TestTables.documentsIncrementalRemoval(s, dir)),

    // ---- BM25-style relevance top-k (rational idf — see scaladoc) ----
    "dp_bm25" -> ((s, dir) =>
      dataprep.CorpusStats.bm25Rank(TestTables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "window", "merge"))),

    // ---- hybrid retrieval: BM25 ⊕ embedding ranks via RRF ----
    "dp_hybrid_rrf" -> ((s, dir) =>
      dataprep.Similarity.hybridRrf(
        TestTables.documents(s, dir), "doc_id", "text",
        TestTables.embeddings(s, dir), "vec_id", "embedding",
        terms = Seq("spark", "window", "merge"), queryId = 0L)),

    // ---- BPE tokenizer training (Sennrich et al. 2016): 8 merges
    //      learned corpus-wide, word-frequency weighted, ties by
    //      (l, r) ascending — the trainer replays bit-for-bit ----
    "dp_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      TestTables.bpeMerges(s, dir).zipWithIndex
        .map { case ((l, r), i) => (i + 1L, l, r, l + r) }
        .toDF("rank", "l", "r", "merged")
    }),

    // ---- BPE apply: every word folded through the learned merges in
    //      rank order; units_md5 witnesses the full segmentation ----
    "dp_bpe_apply" -> ((s, dir) =>
      dataprep.CorpusStats.bpeApply(TestTables.documents(s, dir),
        "doc_id", "text", TestTables.bpeMerges(s, dir))),

    // ---- shard packing billed in LEARNED subword units: the real
    //      pre-training shard step (pack by what the model will see,
    //      not whitespace words) ----
    "dp_bpe_pack" -> ((s, dir) =>
      dataprep.Packing.packShards(
        dataprep.CorpusStats.bpeApply(TestTables.documents(s, dir),
          "doc_id", "text", TestTables.bpeMerges(s, dir))
          .select(col("doc_id"), col("n_units")),
        "doc_id", "n_units", budget = 1024L)),

    // ---- frequency-ranked subword vocabulary ----
    "dp_bpe_vocab" -> ((s, dir) =>
      dataprep.CorpusStats.bpeVocab(TestTables.documents(s, dir),
        "text", TestTables.bpeMerges(s, dir))),

    // ---- encode to subword-id sequences (ids_md5 witnesses every
    //      id at every position) ----
    "dp_bpe_encode" -> ((s, dir) =>
      dataprep.CorpusStats.bpeEncode(TestTables.documents(s, dir),
        "doc_id", "text", TestTables.bpeMerges(s, dir))),

    // ---- token-rarity curation signal (vocabulary join) ----
    "dp_rarity" -> ((s, dir) =>
      dataprep.CorpusStats.rarityScore(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- unigram-LM surprisal (CCNet-style perplexity filter signal) ----
    "dp_lm_logprob" -> ((s, dir) =>
      dataprep.CorpusStats.unigramLogProb(TestTables.documents(s, dir), "doc_id", "text")),

    // ---- CCNet perplexity buckets: head/middle/tail by unigram-LM
    //      mean NLL, exact equal-frequency split via the distributed
    //      rank (no global window) ----
    "dp_ccnet_buckets" -> ((s, dir) =>
      dataprep.CorpusStats.perplexityBuckets(TestTables.documents(s, dir),
        "doc_id", "text", nBuckets = 3)),

    // ---- naive-Bayes source scorer (fasttext-style quality classifier) ----
    "dp_nb_score" -> ((s, dir) =>
      dataprep.CorpusStats.naiveBayesScore(TestTables.documents(s, dir),
        "doc_id", "text", "source", positiveLabel = "src0")),

    // ---- leakage-safe split: near-dup clusters never straddle train/test ----
    "dp_split_leakage" -> ((s, dir) => {
      val d = TestTables.documents(s, dir)
      val pairs = dataprep.Dedup.minhashLshPairs(d,
        "doc_id", "text", numHashes = 128, bands = 32, thresholdNum = 1, thresholdDen = 2)
        .select("id_a", "id_b")
      dataprep.Sampling.leakageSafeSplit(d.select("doc_id", "text"), "doc_id", pairs)
        .select(col("doc_id"), col("rep").as("rep_id"), col("split"))
        .orderBy("doc_id")
    }),

    // ---- end-to-end curation pipeline (quality → lang → exact dedup →
    //      near-dup drop → decontaminate → mix → split); oracle replays
    //      the WHOLE composition stage for stage, and CurateSpec checks
    //      the invariants on adversarial inputs ----
    "dp_curate" -> ((s, dir) =>
      dataprep.Curate.pipeline(TestTables.documents(s, dir), "doc_id", "text", "source",
          benchPred = col("doc_id") % 20 === 0,
          // minQuality/minOverlap tuned to the synthetic corpus's tiny
          // vocabulary (median composite score ≈0.44; median bench
          // bigram overlap ≈42): selective gates, not degenerate ones
          cfg = dataprep.Curate.Config(minQuality = 0.3, minOverlap = 60,
            rates = Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.25))
        .select("doc_id", "source", "pred_lang", "quality_score", "split")
        .orderBy("doc_id")),

    // ---- curation v2: the removal-centric recipe (Gopher gate →
    //      span rewrite → exact dedup on residues → decontaminate →
    //      split). minStops=1: the synthetic vocabulary carries only
    //      'the' from the Gopher stoplist; minOverlap=60 tuned the
    //      same way v1's thresholds are (median residue-vs-bench
    //      overlap is 54 on this vocabulary) ----
    "dp_curate2" -> ((s, dir) =>
      dataprep.Curate.pipelineV2(TestTables.documents(s, dir), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0,
        cfg = dataprep.Curate.V2Config(minStops = 1, spanK = 24, minOverlap = 60))),
  )

  // Shared DuckDB fragments mirroring TextPrep (same regex / shingle
  // construction — keep in sync with Tokenizers.SepRegex).
  private val DTOKS =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9_*\p{L}\p{N}]+'), x -> x <> '')"""
  private val DSHINGLES =
    """list_distinct(list_filter(list_transform(range(1, greatest(len(toks), 2)),
       i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]), x -> x IS NOT NULL))"""
  private val DSH_CTE =
    s"""WITH t AS (SELECT doc_id, n_chars, $DTOKS AS toks FROM documents),
        s AS (SELECT doc_id, n_chars, $DSHINGLES AS sh FROM t)"""

  // DuckDB-side portable-simhash bit terms: per bit b, tokens vote by
  // the sign of an affine mix of their poly-31 hash (PortableSimHash —
  // the Spark kernel mirrors this arithmetic exactly).
  private def simhashSqlExpr: String = {
    import graft.functions.PortableSimHash
    (0 until 64).map { b =>
      val bitval = if (b < 63) (1L << b).toString else Long.MinValue.toString
      s"CASE WHEN 2*len(list_filter(hs, h -> (((${PortableSimHash.aCoef(b)} * h + ${PortableSimHash.cCoef(b)}) % 2147483647) * 2 < 2147483647))) > len(hs) THEN CAST($bitval AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
  }

  // DuckDB-side LSH bucket id: sign bits of projections onto the same
  // deterministic hyperplanes the Spark kernel uses (integer pre-images
  // from LshPlanes.planeInts; the m/1e6-0.5 arithmetic is identical
  // IEEE ops on both engines, embeddings.parquet is 64-dim).
  private def lshBucketSqlExpr(vCol: String, nBits: Int = 12): String =
    graft.functions.LshPlanes.planeInts(nBits, 64).zipWithIndex.map { case (row, p) =>
      val arr = "list_transform([" + row.mkString(",") + "], x -> CAST(x AS DOUBLE)/1000000.0 - 0.5)"
      s"CASE WHEN list_dot_product($vCol, $arr) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")

  // Dedup.embeddingNearDupPairs switches plans on corpus size (doc at
  // Dedup.scala: n <= BruteForceMaxDefault -> exact O(n^2); above ->
  // banded random-hyperplane LSH over LshBands x LshBandBits,
  // candidates = pairs sharing >= 1 band, then exact-dot verified).
  // The oracle encodes the SAME contract — built from Dedup's own
  // constants so a cutover/band-layout change cannot silently desync
  // it — and is exact on BOTH sides of the cutover: below it the band
  // predicate is inert, above it the oracle demands exactly the pairs
  // the documented plan yields (the r10 sf1 sweep caught the
  // divergence: an uncutover-aware brute oracle asserts recall the
  // operator never promises at scale). Assumes the session conf
  // spark.graft.dedup.bruteForceMax is UNSET during verification.
  private def nearDupPairCtes: String =
    s"""e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 ${lshBucketSqlExpr("CAST(embedding AS DOUBLE[])",
                   dataprep.Dedup.LshBands * dataprep.Dedup.LshBandBits)} AS sig
          FROM embeddings),
        cut AS (SELECT count(*) <= ${dataprep.Dedup.BruteForceMaxDefault} AS brute FROM e)"""

  private def nearDupBandPredicate: String =
    (0 until dataprep.Dedup.LshBands).map { b =>
      val sh = b * dataprep.Dedup.LshBandBits
      val mask = (1 << dataprep.Dedup.LshBandBits) - 1
      s"((a.sig >> $sh) & $mask) = ((b.sig >> $sh) & $mask)"
    }.mkString("\n               OR ")

  private def nearDupPairSelect(extraSelect: String): String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b$extraSelect
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(a.v, b.v) >= 0.4
          AND ((SELECT brute FROM cut)
               OR $nearDupBandPredicate)"""

  private def nearDupPairJoinSql(extraSelect: String): String =
    s"""WITH $nearDupPairCtes
        ${nearDupPairSelect(extraSelect)}"""

  /** Generated oracle for the trained-IVF query: mirrors
    * Similarity.trainIvfCentroids's deterministic Lloyd steps (exact
    * integer-e6 centroid means — order-independent on both engines)
    * followed by the assignment/probe/rank pipeline.
    */
  private def ivfOracleSql(nCells: Int, nProbe: Int, iters: Int, k: Int): String = {
    // assignment key = |c|^2 - 2 v.c (true squared-distance argmin up
    // to the per-row |v|^2 constant), mirroring Similarity.scoredCells
    def assignCte(name: String, centName: String): String =
      s"""$name AS (
         SELECT neighbor_id, v, cell FROM (
           SELECT e.vec_id AS neighbor_id, e.v, c.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) ASC,
                             c.cell ASC) AS rn
           FROM e, $centName c) WHERE rn = 1)"""
    def recomputeCte(name: String, asgName: String): String =
      s"""$name AS (
         SELECT cell, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS cv
         FROM (SELECT cell, d, sum(xi) AS s, count(*) AS n
               FROM (SELECT cell, CAST(generate_subscripts(v, 1) AS INT) AS d,
                            CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xi
                     FROM $asgName)
               GROUP BY cell, d)
         GROUP BY cell)"""
    val train = (1 to iters).flatMap { i =>
      Seq(assignCte(s"asg$i", s"cent${i - 1}"), recomputeCte(s"cent$i", s"asg$i"))
    }
    val ctes = Seq(
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      s"cent0 AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id ASC LIMIT $nCells)"
    ) ++ train ++ Seq(
      assignCte("asgF", s"cent$iters"),
      s"""probes AS (
         SELECT query_id, q, cell FROM (
           SELECT e.vec_id AS query_id, e.v AS q, c.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) ASC,
                             c.cell ASC) AS rn
           FROM e, cent$iters c WHERE e.vec_id IN (0,1,2,3,4)) WHERE rn <= $nProbe)""",
      """cand AS (
         SELECT p.query_id, a.neighbor_id, list_dot_product(p.q, a.v) AS d
         FROM probes p JOIN asgF a ON p.cell = a.cell AND p.query_id <> a.neighbor_id)""",
      """r AS (
         SELECT query_id, neighbor_id, d,
                row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rn
         FROM cand)""")
    s"""WITH ${ctes.mkString(",\n")}
       SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
              CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS dot_e6
       FROM r WHERE rn <= $k ORDER BY query_id, rank"""
  }

  /** PQ replayed arithmetically (Similarity.trainPqCodebooks /
    * pqTopK): per subspace j over dims [j·sub, (j+1)·sub), the same
    * two-iteration integer-lattice Lloyd chain as [[kmeansCtes]]
    * (seeds = kSub lowest ids, ties → lowest cell, floor(sum/n)
    * updates, empty cells keep c0), then the ADC sum — per query a
    * subspace-distance LUT against the final codebooks, per neighbor
    * the sum of its m looked-up entries. All BIGINT on the e6
    * lattice. `rerank` appends the exact-distance re-scoring of the
    * shortlist. */
  private val qIn = "(0, 1, 2, 3, 4)"

  /** Winnowed fingerprint selection (Dedup.winnowedWindows, k=24 w=8)
    * as CTEs ending in `w` = (doc_id, win): md5-hex ordering,
    * rightmost-min per window, 1-based gram positions — shared by the
    * batch and incremental substring-winnow oracles. */
  private val winnowWinCtes: String =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 31),
       g AS (SELECT doc_id,
               list_transform(generate_series(1, length(text) - 23),
                              i -> substring(text, i, 24)) AS grams
             FROM d),
       h AS (SELECT doc_id, grams, list_transform(grams, x -> md5(x)) AS hs FROM g),
       s AS (SELECT doc_id, grams,
               list_distinct(list_transform(generate_series(0, len(hs) - 8), p ->
                 p + 9 - list_position(list_reverse(list_slice(hs, p + 1, p + 8)),
                                       list_min(list_slice(hs, p + 1, p + 8))))) AS sel
             FROM h),
       w AS (SELECT DISTINCT doc_id, grams[CAST(s2 AS INT)] AS win
             FROM (SELECT doc_id, grams, unnest(sel) AS s2 FROM s))"""

  /** The shared PQ CTE chain (pts/u/seedids + per-subspace Lloyd +
    * LUTs) and the per-subspace contribution union — composed by both
    * [[pqOracleSql]] and [[ivfPqOracleSql]]. */
  private def pqChain(m: Int, sub: Int, kSub: Int): (String, String) = {
    def subCtes(j: Int): String = {
      val lo = j * sub; val hi = (j + 1) * sub
      s"""s${j}c0 AS (SELECT s.cell, u.dim, u.val FROM seedids s JOIN u ON u.id = s.id
                      WHERE u.dim >= $lo AND u.dim < $hi),
         s${j}d1 AS (SELECT u.id, c.cell,
                            sum((u.val - c.val) * (u.val - c.val)) AS dist
                     FROM u JOIN s${j}c0 c USING (dim) GROUP BY u.id, c.cell),
         s${j}a1 AS (SELECT id, cell FROM (
                       SELECT id, cell,
                              row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
                       FROM s${j}d1) WHERE rn = 1),
         s${j}m1 AS (SELECT a.cell, u.dim,
                            CAST(floor(sum(u.val) / count(*)) AS BIGINT) AS val
                     FROM u JOIN s${j}a1 a USING (id)
                     WHERE u.dim >= $lo AND u.dim < $hi GROUP BY a.cell, u.dim),
         s${j}c1 AS (SELECT s${j}c0.cell, s${j}c0.dim,
                            COALESCE(s${j}m1.val, s${j}c0.val) AS val
                     FROM s${j}c0 LEFT JOIN s${j}m1
                       ON s${j}m1.cell = s${j}c0.cell AND s${j}m1.dim = s${j}c0.dim),
         s${j}d2 AS (SELECT u.id, c.cell,
                            sum((u.val - c.val) * (u.val - c.val)) AS dist
                     FROM u JOIN s${j}c1 c USING (dim) GROUP BY u.id, c.cell),
         s${j}a2 AS (SELECT id, cell FROM (
                       SELECT id, cell,
                              row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
                       FROM s${j}d2) WHERE rn = 1),
         lut$j AS (SELECT uq.id AS query_id, c.cell,
                          sum((uq.val - c.val) * (uq.val - c.val)) AS d
                   FROM u uq JOIN s${j}c1 c USING (dim)
                   WHERE uq.id IN $qIn GROUP BY uq.id, c.cell)"""
    }
    val contrib = (0 until m).map(j =>
      s"SELECT l.query_id, a.id AS neighbor_id, l.d FROM s${j}a2 a JOIN lut$j l ON l.cell = a.cell")
      .mkString("\n UNION ALL ")
    val ctes =
      s"""pts AS (
           SELECT vec_id AS id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
         u AS (SELECT id, unnest(range(1, len(v)+1)) - 1 AS dim, unnest(v) AS val
               FROM pts),
         seedids AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cell
                     FROM (SELECT id FROM pts ORDER BY id LIMIT $kSub)),
         ${(0 until m).map(subCtes).mkString(",\n")},
         contrib AS ($contrib)"""
    (ctes, contrib)
  }

  private def pqOracleSql(m: Int, sub: Int, kSub: Int, k: Int,
      rerank: Option[Int] = None): String = {
    val (chain, _) = pqChain(m, sub, kSub)
    val head =
      s"""WITH $chain,
         adist AS (SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adist
                   FROM contrib WHERE query_id <> neighbor_id GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adist,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY adist ASC, neighbor_id ASC) AS rn
               FROM adist)"""
    rerank match {
      case None =>
        s"""$head
           SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, adist
           FROM r WHERE rn <= $k ORDER BY query_id, rank"""
      case Some(shortlist) =>
        s"""$head,
           short AS (SELECT query_id, neighbor_id FROM r WHERE rn <= $shortlist),
           ed AS (SELECT x.query_id, x.neighbor_id,
                         CAST(sum((uq.val - un.val) * (uq.val - un.val)) AS BIGINT) AS dist
                  FROM short x
                  JOIN u uq ON uq.id = x.query_id
                  JOIN u un ON un.id = x.neighbor_id AND un.dim = uq.dim
                  GROUP BY 1, 2),
           r2 AS (SELECT query_id, neighbor_id, dist,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY dist ASC, neighbor_id ASC) AS rn
                  FROM ed)
           SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, dist
           FROM r2 WHERE rn <= $k ORDER BY query_id, rank"""
    }
  }

  /** IVF-PQ replayed: the float IVF training/probing CTEs of
    * [[ivfOracleSql]] (cell argmin key |c|²−2v·c, e6-exact means)
    * produce the candidate set, the [[pqChain]] CTEs produce the ADC
    * contributions, and the final sum runs over candidates only —
    * exactly Similarity.ivfPqTopK's algebra. */
  private def ivfPqOracleSql(nCells: Int, nProbe: Int, ivfIters: Int,
      m: Int, sub: Int, kSub: Int, k: Int): String = {
    def assignCte(name: String, centName: String): String =
      s"""$name AS (
         SELECT neighbor_id, v, cell FROM (
           SELECT e.vec_id AS neighbor_id, e.v, c.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) ASC,
                             c.cell ASC) AS rn
           FROM e, $centName c) WHERE rn = 1)"""
    def recomputeCte(name: String, asgName: String): String =
      s"""$name AS (
         SELECT cell, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS cv
         FROM (SELECT cell, d, sum(xi) AS s, count(*) AS n
               FROM (SELECT cell, CAST(generate_subscripts(v, 1) AS INT) AS d,
                            CAST(floor(unnest(v) * 1000000 + 0.5) AS BIGINT) AS xi
                     FROM $asgName)
               GROUP BY cell, d)
         GROUP BY cell)"""
    val train = (1 to ivfIters).flatMap { i =>
      Seq(assignCte(s"asg$i", s"cent${i - 1}"), recomputeCte(s"cent$i", s"asg$i"))
    }
    val ivfCtes = (Seq(
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      s"cent0 AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id ASC LIMIT $nCells)"
    ) ++ train ++ Seq(
      assignCte("asgF", s"cent$ivfIters"),
      s"""probes AS (
         SELECT query_id, cell FROM (
           SELECT e.vec_id AS query_id, c.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv) ASC,
                             c.cell ASC) AS rn
           FROM e, cent$ivfIters c WHERE e.vec_id IN $qIn) WHERE rn <= $nProbe)""",
      """cand AS (
         SELECT p.query_id, a.neighbor_id
         FROM probes p JOIN asgF a ON p.cell = a.cell AND p.query_id <> a.neighbor_id)"""
    )).mkString(",\n")
    val (chain, _) = pqChain(m, sub, kSub)
    s"""WITH $ivfCtes,
       $chain,
       adist AS (SELECT c.query_id, c.neighbor_id, CAST(sum(ct.d) AS BIGINT) AS adist
                 FROM cand c JOIN contrib ct
                   ON ct.query_id = c.query_id AND ct.neighbor_id = c.neighbor_id
                 GROUP BY 1, 2),
       r AS (SELECT query_id, neighbor_id, adist,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist ASC, neighbor_id ASC) AS rn
             FROM adist)
       SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, adist
       FROM r WHERE rn <= $k ORDER BY query_id, rank"""
  }

  /** Macro-free splitmix64 (graft.functions.SeqAggregates.mix64) as a
    * DuckDB CTE chain over HUGEINT mod-2^64 arithmetic; the 64x64
    * multiply is split 32/32 so no intermediate exceeds HUGEINT range.
    * `baseSelect` must expose a BIGINT `uid` column; the chain appends
    * `h63` (the unsigned hash shifted right once — compare with plain
    * signed <).
    */
  /** `p` prefixes both CTE and computed-column names so two chains can
    * compose in one WITH (e.g. prio = mix64(xor(mix64(mid), rid))). */
  // The integer-lattice Lloyd iteration chain (Similarity.kmeansAssign
  // replayed step-for-step): pts/u quantize and explode, seed/c0 take
  // the 8 smallest ids as cells, d1/a1 assign (ties → lowest cell),
  // m1/c1 update floor(sum/n) with empty cells keeping c0, d2/a2
  // reassign. Shared by dp_kmeans and dp_cluster_sample.
  private val kmeansCtes: String =
    """pts AS (
           SELECT vec_id AS id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
         u AS (SELECT id, unnest(range(1, len(v)+1)) - 1 AS dim,
                      unnest(v) AS val
               FROM pts),
         seed AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cell
                  FROM (SELECT id FROM pts ORDER BY id LIMIT 8)),
         c0 AS (SELECT s.cell, u.dim, u.val FROM seed s JOIN u ON u.id = s.id),
         d1 AS (SELECT u.id, c.cell,
                       sum((u.val - c.val) * (u.val - c.val)) AS dist
                FROM u JOIN c0 c USING (dim) GROUP BY u.id, c.cell),
         a1 AS (SELECT id, cell FROM (
                  SELECT id, cell,
                         row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
                  FROM d1) WHERE rn = 1),
         m1 AS (SELECT a.cell, u.dim,
                       CAST(floor(sum(u.val) / count(*)) AS BIGINT) AS val
                FROM u JOIN a1 a USING (id) GROUP BY a.cell, u.dim),
         c1 AS (SELECT c0.cell, c0.dim, COALESCE(m1.val, c0.val) AS val
                FROM c0 LEFT JOIN m1 ON m1.cell = c0.cell AND m1.dim = c0.dim),
         d2 AS (SELECT u.id, c.cell,
                       sum((u.val - c.val) * (u.val - c.val)) AS dist
                FROM u JOIN c1 c USING (dim) GROUP BY u.id, c.cell),
         a2 AS (SELECT id, cell, dist FROM (
                  SELECT id, cell, dist,
                         row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
                  FROM d2) WHERE rn = 1)"""

  /** Generated BPE-training CTE chain: u0 = per-distinct-word char
    * units (space-joined), then per round k: pair counts weighted by
    * word frequency, argmax with (n DESC, l ASC, r ASC) tie-break,
    * and the greedy left-to-right fold applied via list_reduce — the
    * same fold CorpusStats.mergeFold runs as an array-accumulator
    * HOF. Units never contain spaces (tokenizer chars), so the
    * space-joined string accumulator is equivalent to the array fold.
    */
  private def bpeCtes(n: Int): String = {
    val rounds = (1 to n).map { k =>
      s"""pk$k AS (SELECT cnt, string_split(us, ' ') AS u FROM u${k - 1}),
          pp$k AS (SELECT cnt, u, unnest(range(1, len(u))) AS i FROM pk$k),
          pc$k AS (SELECT u[CAST(i AS INT)] AS l, u[CAST(i AS INT) + 1] AS r,
                          sum(cnt) AS n
                   FROM pp$k GROUP BY 1, 2),
          m$k AS (SELECT l, r, l || r AS m FROM pc$k
                  ORDER BY n DESC, l ASC, r ASC LIMIT 1),
          u$k AS (SELECT u.w, u.cnt,
                   CASE WHEN len(string_split(u.us, ' ')) < 2 THEN u.us ELSE
                     list_reduce(string_split(u.us, ' '), (acc, x) -> CASE
                       WHEN acc = m.l AND x = m.r THEN m.m
                       WHEN length(acc) > length(m.l)
                            AND right(acc, length(m.l) + 1) = ' ' || m.l
                            AND x = m.r
                         THEN left(acc, length(acc) - length(m.l)) || m.m
                       ELSE acc || ' ' || x END)
                   END AS us
                  FROM u${k - 1} u CROSS JOIN m$k m)"""
    }.mkString(",\n")
    s"""w0 AS (SELECT unnest($DTOKS) AS w FROM documents),
        wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w0 GROUP BY w),
        u0 AS (SELECT w, cnt, array_to_string(list_transform(
                 range(1, length(w) + 1),
                 i -> substring(w, CAST(i AS INT), 1)), ' ') AS us FROM wc),
        $rounds"""
  }

  private def mix64Ctes(baseSelect: String, p: String = ""): String = {
    val M = "18446744073709551616"
    def u64(x: String) = s"(((CAST($x AS HUGEINT)) % $M + $M) % $M)"
    def tos64(u: String) = s"CAST($u - CASE WHEN $u >= 9223372036854775808 THEN $M ELSE 0 END AS BIGINT)"
    def mul(a: String, b: String) =
      u64(s"(($a % 4294967296) * $b + (((($a // 4294967296) * $b) % 4294967296) * 4294967296))")
    val C = java.lang.Long.toUnsignedString(0x9E3779B97F4A7C15L + graft.functions.SeqAggregates.Seed)
    val B1 = java.lang.Long.toUnsignedString(0xBF58476D1CE4E5B9L)
    val B2 = java.lang.Long.toUnsignedString(0x94D049BB133111EBL)
    s"""${p}b AS ($baseSelect),
       ${p}m0 AS (SELECT *, ${u64(s"CAST(uid AS HUGEINT) + $C")} AS ${p}u0 FROM ${p}b),
       ${p}m1 AS (SELECT * EXCLUDE (uid), ${u64(s"xor(${tos64(s"${p}u0")}, ${tos64(s"(${p}u0 // 1073741824)")})")} AS ${p}u1 FROM ${p}m0),
       ${p}m2 AS (SELECT *, ${mul(s"${p}u1", B1)} AS ${p}u2 FROM ${p}m1),
       ${p}m3 AS (SELECT *, ${u64(s"xor(${tos64(s"${p}u2")}, ${tos64(s"(${p}u2 // 134217728)")})")} AS ${p}u3 FROM ${p}m2),
       ${p}m4 AS (SELECT *, ${mul(s"${p}u3", B2)} AS ${p}u4 FROM ${p}m3),
       ${p}m5 AS (SELECT *, ${u64(s"xor(${tos64(s"${p}u4")}, ${tos64(s"(${p}u4 // 2147483648)")})")} AS ${p}u5 FROM ${p}m4),
       ${p}mh AS (SELECT *, CAST(${p}u5 // 2 AS BIGINT) AS ${p}h63 FROM ${p}m5)"""
  }

  /** Sketch-replay quantile oracle — the UNIVERSAL form, exact at any
    * scale factor: the bottom-k sketch is deterministic BY CONSTRUCTION
    * (priority = splitmix64(mix64(mid) XOR rid), keep the ReservoirCap
    * smallest (prio, value) pairs), so the oracle replays the very same
    * sample selection. Below the cap the selection keeps every row, so
    * this also equals the exact window-rank definition — which is why
    * the auto-routed engine path (exact below cap, sketch above) is
    * checkable by this ONE query regardless of which plan it picked.
    */
  private def quantileSketchReplaySqlFor(
      baseSelect: String, keys: Seq[String], qs: Seq[Double]): String = {
    val cap = graft.functions.SeqAggregates.ReservoirCap
    def signed(u: String) =
      s"""CAST($u - CASE WHEN $u >= 9223372036854775808
           THEN 18446744073709551616 ELSE 0 END AS BIGINT)"""
    val keyList = keys.mkString(", ")
    val part = s"PARTITION BY $keyList"
    val qsVals = qs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")
    val keyOrd = keys.map(k => s"$k ASC").mkString(", ")
    // uid = mix64(mid) XOR rid (two chained mix64 stages): XOR of the
    // raw ids alone degenerates when mid == rid (uid = 0 for every
    // row), so the engine pre-scrambles mid — mirrored here chain A
    // (mix64 of mid) then chain B (DetSamplesAggregate's own mix64 of uid)
    s"""WITH ${mix64Ctes(baseSelect, "a")},
        ${mix64Ctes(
          s"""SELECT $keyList, value, xor(${signed("au5")}, rid) AS uid FROM amh""", "b")},
        pr AS (
          SELECT $keyList, value, ${signed("bu5")} AS prio FROM bmh
        ), sel AS (
          SELECT $keyList, value,
                 row_number() OVER ($part ORDER BY prio ASC, value ASC) AS k
          FROM pr
        ), samp AS (
          SELECT $keyList, value FROM sel WHERE k <= $cap
        ), r AS (
          SELECT $keyList, value,
                 row_number() OVER ($part ORDER BY value) - 1 AS rn,
                 count(*) OVER ($part) AS n
          FROM samp
        )
        SELECT $keyList, q, value FROM r
        JOIN (VALUES $qsVals) AS qs(q)
          ON rn = CAST(round(q * (n - 1)) AS BIGINT)
        ORDER BY $keyOrd, q ASC"""
  }

  private lazy val quantileSketchReplaySql: String =
    quantileSketchReplaySqlFor(
      s"""SELECT coalesce(event_type, '_not_exists') AS name, value,
                 event_id AS rid, $M AS uid FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND value IS NOT NULL""",
      Seq("name"), Seq(0.5, 0.9, 0.99))

  /** The time-series variant: same universal replay, partitioned by
    * (weekly bucket, name) — the sf1 sweep caught the old exact-window
    * oracle diverging once weekly buckets crossed the routing cap and
    * the engine (correctly) picked the sketch plan. */
  private lazy val quantileTsSketchReplaySql: String =
    quantileSketchReplaySqlFor(
      s"""SELECT $M - $M % 604800000 AS bucket_ms,
                 coalesce(event_type, '_not_exists') AS name, value,
                 event_id AS rid, $M AS uid FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND event_type = 'purchase'
            AND value IS NOT NULL""",
      Seq("bucket_ms", "name"), Seq(0.5))

  def oracleSql: Map[String, String] = Map(
    "dp_split" -> {
      val ts = dataprep.Sampling.thresholds(dataprep.Sampling.DefaultWeights)
      val cases = ts.init.map { case (n, t) => s"WHEN h63 < $t THEN '$n'" }.mkString(" ")
      s"""WITH ${mix64Ctes("SELECT doc_id, CAST(doc_id AS BIGINT) AS uid FROM documents")}
          SELECT doc_id, CASE $cases ELSE '${ts.last._1}' END AS split
          FROM mh ORDER BY doc_id"""
    },

    "dp_weighted_mix" -> {
      // same thresholds the Spark side derives (rate 1.0 → keep all)
      def t(r: Double) = dataprep.Sampling.rateThreshold(r)
      val cases = Seq("src1" -> t(0.5), "src2" -> t(0.25)).map {
        case (g, Some(th)) => s"WHEN source = '$g' THEN h63 < $th"
        case (g, None)     => s"WHEN source = '$g' THEN TRUE"
      }.mkString(" ")
      s"""WITH ${mix64Ctes("SELECT doc_id, source, " +
            s"CAST(xor(CAST(doc_id AS BIGINT), ${dataprep.Sampling.WeightedMixSalt}) AS BIGINT) AS uid " +
            "FROM documents")}
          SELECT doc_id, source FROM mh
          WHERE CASE WHEN source = 'src0' THEN TRUE $cases
                     ELSE h63 < ${t(0.1).get} END
          ORDER BY doc_id"""
    },

    // Same rate arithmetic as the Spark side: sqrt on the exact
    // cmin/cnt double ratio (correctly rounded on both engines), keep
    // decision on the [0,1)-scaled 63-bit priority; the minimal group
    // short-circuits on the integer count equality.
    "dp_temperature_mix" ->
      s"""WITH ${mix64Ctes("SELECT doc_id, lang, " +
            s"CAST(xor(CAST(doc_id AS BIGINT), ${dataprep.Sampling.TemperatureMixSalt}) AS BIGINT) AS uid " +
            "FROM documents")},
          c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
          mn AS (SELECT min(cnt) AS cmin FROM c),
          r AS (SELECT lang, cnt, cmin,
                  sqrt(CAST(cmin AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate
                FROM c, mn)
          SELECT doc_id, lang FROM mh JOIN r USING (lang)
          WHERE cnt = cmin
             OR CAST(h63 AS DOUBLE) / 9.223372036854775808e18 < rate
          ORDER BY doc_id ASC""",

    "dp_sample_stratified" ->
      s"""WITH ${mix64Ctes("SELECT doc_id, lang, CAST(doc_id AS BIGINT) AS uid FROM documents")},
          r AS (SELECT lang, doc_id,
                       row_number() OVER (PARTITION BY lang ORDER BY h63 ASC, doc_id ASC) AS rn
                FROM mh)
          SELECT lang, CAST(rn AS BIGINT) AS sample_rank, doc_id
          FROM r WHERE rn <= 20 ORDER BY lang, sample_rank""",

    "dp_ann_ivf" -> ivfOracleSql(nCells = 16, nProbe = 4, iters = 2, k = 10),
    // the persisted index replays the same deterministic training, so
    // the same oracle applies verbatim
    "dp_ann_ivf_indexed" -> ivfOracleSql(nCells = 16, nProbe = 4, iters = 2, k = 10),
    "dp_ann_pq" -> pqOracleSql(m = 4, sub = 16, kSub = 8, k = 10),
    "dp_ann_pq_rerank" -> pqOracleSql(m = 4, sub = 16, kSub = 8, k = 10,
      rerank = Some(40)),
    "dp_ann_ivfpq" -> ivfPqOracleSql(nCells = 16, nProbe = 4, ivfIters = 2,
      m = 4, sub = 16, kSub = 8, k = 10),

    "dp_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          b AS (SELECT vec_id, v, ${lshBucketSqlExpr("v")} AS bucket FROM e),
          q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id IN (0,1,2,3,4)),
          cand AS (
            SELECT q.query_id, n.vec_id AS neighbor_id, list_dot_product(q.qv, n.v) AS d
            FROM q JOIN b n ON n.vec_id <> q.query_id AND bit_count(xor(n.bucket, q.qb)) <= 1),
          r AS (
            SELECT query_id, neighbor_id, d,
                   row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rn
            FROM cand)
          SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
                 CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS dot_e6
          FROM r WHERE rn <= 10 ORDER BY query_id, rank""",

    "dp_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($DTOKS) AS toks FROM documents),
          h AS (SELECT doc_id, list_transform(toks, tok ->
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    [CAST(unicode(tok[i]) AS BIGINT) for i in range(1, len(tok)+1)]),
                  (acc, c) -> (acc * 31 + c) % 2147483647)) AS hs FROM t),
          s AS (SELECT doc_id, $simhashSqlExpr AS sim FROM h)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
          FROM s a, s b
          WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3
          ORDER BY id_a, id_b""",

    "seq_search_keyword" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type, value FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type = 'error'
          ORDER BY mid DESC, rid DESC LIMIT 100""",

    "seq_search_keyword_bloom" ->
      s"""SELECT $M AS mid, event_id AS rid, user_id, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND user_id = 42 AND event_type = 'error'
          ORDER BY mid DESC, rid DESC LIMIT 100""",

    "seq_search_bool" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type, user_id FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND (event_type = 'click' OR event_type = 'view') AND NOT user_id = 7
          ORDER BY mid DESC, rid DESC LIMIT 200""",

    "seq_search_in_wildcard" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND (event_type LIKE 'err%' OR event_type LIKE 'sign%')
          ORDER BY mid DESC, rid DESC LIMIT 150""",

    "seq_search_range_numeric" ->
      s"""SELECT $M AS mid, event_id AS rid, value FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND value >= 100 AND value < 200
          ORDER BY mid DESC, rid DESC LIMIT 300""",

    "seq_search_in_numeric" ->
      s"""SELECT $M AS mid, event_id AS rid, value FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND value IN (CAST(5.52 AS DOUBLE), CAST(1.87 AS DOUBLE), CAST(7.4 AS DOUBLE))
          ORDER BY mid DESC, rid DESC LIMIT 200""",

    "seq_search_range_text" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND event_type >= 'click' AND event_type <= 'purchase'
          ORDER BY mid DESC, rid DESC LIMIT 300""",

    "seq_search_exists_json" ->
      s"""SELECT $M AS mid, event_id AS rid,
                 nullif(regexp_extract(props, '"k": (\\d+)', 1), '') AS props_k
          FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND nullif(regexp_extract(props, '"k": (\\d+)', 1), '') IS NOT NULL
            AND TRY_CAST(nullif(regexp_extract(props, '"k": (\\d+)', 1), '') AS DOUBLE) >= 50
          ORDER BY mid DESC, rid DESC LIMIT 300""",

    "seq_search_page_offset" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15
          ORDER BY mid DESC, rid DESC LIMIT 50 OFFSET 100""",

    "seq_search_asc" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type = 'signup'
          ORDER BY mid ASC, rid ASC LIMIT 80""",

    "seq_fields_pipe" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type, value FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type = 'purchase'
          ORDER BY mid DESC, rid DESC LIMIT 500""",

    "seq_total" ->
      s"""SELECT count(*) AS total FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND value >= 0 AND value < 100""",

    "seq_histogram_1h" ->
      s"""SELECT $M - $M % 3600000 AS bucket_ms, count(*) AS cnt FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND event_type = 'error'
          GROUP BY 1 ORDER BY 1""",

    "seq_agg_count_by_type" ->
      s"""SELECT coalesce(event_type, '_not_exists') AS name, count(*) AS value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1 ORDER BY value DESC, name ASC""",

    "seq_agg_unique" ->
      s"""SELECT DISTINCT event_type AS name FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND event_type IS NOT NULL
          ORDER BY name ASC""",

    "seq_agg_min_by_type" ->
      s"""SELECT coalesce(event_type, '_not_exists') AS name, min(value) AS value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1 ORDER BY value ASC, name ASC""",

    "seq_agg_max_by_type" ->
      s"""SELECT coalesce(event_type, '_not_exists') AS name, max(value) AS value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1 ORDER BY value DESC, name ASC""",

    "seq_text_range" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents)
          SELECT doc_id AS mid, doc_id AS rid, doc_id FROM t
          WHERE len(list_filter(toks, x -> x >= 'q' AND x <= 'r')) > 0
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    "seq_fields_except" ->
      s"""SELECT $M AS mid, event_id AS rid, event_id, event_type, user_id FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type = 'signup'
          ORDER BY mid DESC, rid DESC LIMIT 100""",

    "seq_search_wildcard_suffix" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type LIKE '%up'
          ORDER BY mid DESC, rid DESC LIMIT 150""",

    "seq_agg_sum_avg_cents" ->
      s"""SELECT event_type AS name,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                 count(*) AS cnt,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1 ORDER BY name ASC""",

    // auto-routed: exact plan below cap, sketch above — the replay
    // oracle covers both (see quantileSketchReplaySql)
    "seq_agg_quantile" -> quantileSketchReplaySql,

    "seq_agg_quantile_sketch" -> quantileSketchReplaySql,

    // routing cap forced below the sf0.01 bucket sizes → the sketch
    // plan runs here, same replay oracle
    "seq_agg_quantile_auto" -> quantileSketchReplaySql,

    "seq_agg_timeseries_day" ->
      s"""SELECT $M - $M % 86400000 AS bucket_ms,
                 coalesce(event_type, '_not_exists') AS name, count(*) AS value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1, 2 ORDER BY bucket_ms ASC, value DESC, name ASC""",

    "seq_fetch_ids" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type, value FROM events
          WHERE event_id IN (5, 105, 205, 305, 405) ORDER BY rid ASC""",

    "seq_fetch_ids_bloom" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type, value FROM events
          WHERE event_id IN (5, 105, 205, 305, 405) ORDER BY rid ASC""",

    "seq_dedup_replica" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type = 'purchase'
          ORDER BY mid DESC, rid DESC LIMIT 120""",

    "seq_text_bloom" ->
      s"""SELECT doc_id AS mid, doc_id AS rid, doc_id, lang FROM documents
          WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9_*\\p{L}\\p{N}]+'), 'key')
            AND list_contains(string_split_regex(lower(text), '[^a-z0-9_*\\p{L}\\p{N}]+'), 'order')
            AND (('/' || source || '/' || lang) = '/src7'
                 OR ('/' || source || '/' || lang) LIKE '/src7/%')
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    "seq_text_phrase" ->
      s"""SELECT doc_id AS mid, doc_id AS rid, doc_id, lang FROM documents
          WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9_*\\p{L}\\p{N}]+'), 'key')
            AND list_contains(string_split_regex(lower(text), '[^a-z0-9_*\\p{L}\\p{N}]+'), 'order')
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    "seq_text_wildcard" ->
      s"""SELECT doc_id AS mid, doc_id AS rid, doc_id FROM documents
          WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9_*\\p{L}\\p{N}]+'),
                                t -> t LIKE 'quer%')) > 0
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    "seq_path_prefix" ->
      s"""SELECT doc_id AS mid, doc_id AS rid, doc_id,
                 '/' || source || '/' || lang AS src_path
          FROM documents
          WHERE '/' || source || '/' || lang = '/src1'
             OR ('/' || source || '/' || lang) LIKE '/src1/%'
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    "tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24""",

    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",

    "tpch_q3_topk" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue_e4 DESC, l_orderkey ASC LIMIT 10""",

    "tpch_q5" ->
      """SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue_e4 DESC, n_name ASC""",

    "tpch_revenue_by_nation" ->
      """SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
               count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue_e4 DESC, n_name ASC""",

    "seq_search_wildcard_mid" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND event_type LIKE '%ur%'
          ORDER BY mid DESC, rid DESC LIMIT 200""",

    "seq_search_range_open" ->
      s"""SELECT $M AS mid, event_id AS rid, value FROM events
          WHERE $M BETWEEN $T02 AND $T15 AND value < 5
          ORDER BY mid DESC, rid DESC LIMIT 200""",

    "seq_search_not_or" ->
      s"""SELECT $M AS mid, event_id AS rid, event_type FROM events
          WHERE $M BETWEEN $T02 AND $T15
            AND NOT (event_type = 'click' OR event_type = 'view' OR event_type = 'purchase')
          ORDER BY mid DESC, rid DESC LIMIT 200""",

    "seq_path_deep" ->
      s"""SELECT doc_id AS mid, doc_id AS rid, doc_id,
                 '/' || source || '/' || lang AS src_path
          FROM documents
          WHERE '/' || source || '/' || lang = '/src2/en'
             OR ('/' || source || '/' || lang) LIKE '/src2/en/%'
          ORDER BY mid DESC, rid DESC LIMIT 1000""",

    // universal sketch-replay form: exact below the routing cap (the
    // sample keeps every row) AND above it (the oracle replays the
    // deterministic bottom-k selection) — sf0.1 takes the exact plan,
    // sf1's weekly buckets cross the cap and take the sketch plan
    "seq_agg_quantile_ts" -> quantileTsSketchReplaySql,

    "seq_agg_unique_ts" ->
      s"""SELECT DISTINCT $M - $M % 604800000 AS bucket_ms, event_type AS name
          FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND value >= 200 AND event_type IS NOT NULL
          ORDER BY bucket_ms ASC, name ASC""",

    // KMV sketch replay: distinct (bucket, value) → poly-31 of the
    // value string → the same mix64 chain → distinct h63 → bottom-64
    // per bucket → exact-or-estimate in HUGEINT integer arithmetic
    "seq_agg_unique_sketch" ->
      s"""WITH ${mix64Ctes(
            s"""SELECT DISTINCT $M - $M % 604800000 AS bucket_ms,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    [CAST(unicode(v[i]) AS BIGINT) for i in range(1, len(v)+1)]),
                    (acc, c) -> (acc * 31 + c) % 2147483647) AS uid
                FROM (SELECT ts, CAST(user_id AS VARCHAR) AS v FROM events
                      WHERE $M BETWEEN $T0 AND $T31 AND user_id IS NOT NULL)""")},
          dd AS (SELECT DISTINCT bucket_ms, h63 FROM mh),
          r AS (SELECT bucket_ms, h63,
                       row_number() OVER (PARTITION BY bucket_ms ORDER BY h63 ASC) AS rn
                FROM dd),
          s AS (SELECT bucket_ms, count(*) AS n,
                       max(h63) FILTER (WHERE rn <= 64) AS kth
                FROM r GROUP BY bucket_ms)
          SELECT bucket_ms,
                 CASE WHEN n < 64 THEN n
                      ELSE CAST((CAST(63 AS HUGEINT) * 9223372036854775807)
                                // CAST(kth AS HUGEINT) AS BIGINT) END AS est_unique
          FROM s ORDER BY bucket_ms ASC""",

    "events_retention" ->
      s"""WITH a AS (SELECT DISTINCT user_id AS u, $M - $M % 604800000 AS period_ms FROM events),
          c AS (SELECT u, min(period_ms) AS cohort_ms FROM a GROUP BY u)
          SELECT c.cohort_ms, a.period_ms, CAST(count(*) AS BIGINT) AS n_users
          FROM a JOIN c USING (u)
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "seq_agg_filtered" ->
      s"""SELECT coalesce(event_type, '_not_exists') AS name,
                 CAST(count(*) FILTER (WHERE value >= 400) AS BIGINT) AS value
          FROM events WHERE $M BETWEEN $T0 AND $T31
          GROUP BY 1 ORDER BY value DESC, name ASC""",

    "seq_histogram_6h" ->
      s"""SELECT $M - $M % 21600000 AS bucket_ms, count(*) AS cnt FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND event_type = 'view'
          GROUP BY 1 ORDER BY 1""",

    "seq_histogram_rollup" ->
      s"""WITH b AS (
            SELECT $M - $M % 21600000 AS bucket_coarse,
                   $M - $M % 3600000 AS bucket_fine
            FROM events
            WHERE $M BETWEEN $T0 AND $T31 AND event_type = 'error')
          SELECT bucket_coarse, bucket_fine, count(*) AS cnt,
                 CAST(GROUPING(bucket_fine) AS BIGINT) AS lvl
          FROM b GROUP BY ROLLUP(bucket_coarse, bucket_fine)
          HAVING GROUPING(bucket_coarse) = 0
          ORDER BY bucket_coarse ASC, lvl DESC, bucket_fine ASC""",

    "seq_export" ->
      s"""SELECT $M AS mid, event_id AS rid, user_id FROM events
          WHERE $M BETWEEN $T0 AND $T31 AND user_id >= 140
          ORDER BY mid ASC, rid ASC""",

    "seq_agg_count_text_tokens" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          e AS (SELECT unnest(toks) AS name FROM t)
          SELECT name, count(*) AS value FROM e
          GROUP BY 1 ORDER BY value DESC, name ASC""",

    "events_zorder_lookup" ->
      s"""SELECT event_id, $M AS mid, event_type,
                 CAST(round(value * 100) AS BIGINT) AS value_cents
          FROM events
          WHERE user_id = 42 AND $M BETWEEN $T0 AND $T15
          ORDER BY mid ASC, event_id ASC""",

    "events_sessionize" ->
      s"""WITH g AS (
            SELECT user_id, $M AS mid, event_id AS rid,
                   lag($M) OVER (PARTITION BY user_id ORDER BY $M ASC, event_id ASC) AS prev
            FROM events
          ), b AS (
            SELECT user_id, mid, rid,
                   CASE WHEN prev IS NULL OR mid - prev > 1800000 THEN 1 ELSE 0 END AS new_s
            FROM g
          ), s AS (
            SELECT user_id, mid,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY mid ASC, rid ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
            FROM b
          )
          SELECT user_id, session_no, count(*) AS n_events,
                 min(mid) AS start_ms, max(mid) AS end_ms,
                 max(mid) - min(mid) AS duration_ms
          FROM s GROUP BY user_id, session_no
          ORDER BY user_id ASC, session_no ASC""",

    "dp_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS cnt
         FROM documents GROUP BY 1 ORDER BY content_hash ASC""",

    "dp_dedup_ngram" ->
      s"""$DSH_CTE
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_cnt,
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS union_cnt
          FROM s a, s b
          WHERE a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 25
            AND len(list_intersect(a.sh, b.sh)) * 10 >= 3 * len(list_distinct(list_concat(a.sh, b.sh)))
          ORDER BY id_a, id_b""",

    // Brute-force containment over all ordered pairs, under the
    // operator's FULL contract: the gate query passes maxDfFrac=0.1,
    // maxDfAbs=500, and containmentPairs' documented semantics exclude
    // exactly the pairs whose EVERY shared shingle is hot (document
    // frequency above min(maxDfAbs, floor(maxDfFrac*N)) — evidence
    // consisting solely of stop-bigrams). The hot/hotl CTEs replicate
    // that cap; inter_cnt and n_a stay computed on the FULL shingle
    // lists, as the engine's exact verification does. At sf0.01/sf0.1
    // no bigram crosses the cap (hot is empty) and this reduces to the
    // plain brute join; the round-10 sf1 sweep is where the corner
    // first bites (900 hot bigrams, 121 732 hot-only pairs) and the
    // engine matched this contract bit-exactly. The engine also
    // truncates an adversarially huge hot set to the 2^20 hottest
    // keys — unreachable here (|hot| is bounded by total shingle
    // occurrences / cap, ~5k at sf1), so the oracle omits it.
    "dp_dedup_containment" ->
      s"""$DSH_CTE,
          nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
          hot AS (SELECT h FROM (SELECT unnest(sh) AS h FROM nz) GROUP BY h
                  HAVING count(*) > least(500, greatest(1,
                    CAST(floor(0.1 * (SELECT count(*) FROM nz)) AS BIGINT)))),
          hotl AS (SELECT coalesce(list(h), []) AS hl FROM hot)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_cnt,
                 CAST(len(a.sh) AS BIGINT) AS n_a
          FROM nz a, nz b, hotl
          WHERE a.doc_id <> b.doc_id
            AND len(list_intersect(a.sh, b.sh)) * 10 >= 9 * len(a.sh)
            AND len(list_filter(list_intersect(a.sh, b.sh),
                                x -> NOT list_contains(hl, x))) > 0
          ORDER BY id_a, id_b""",

    // clusters: the pair set (brute-force Jaccard — LSH at these
    // settings reproduces it exactly, see dp_dedup_minhash_lsh), then
    // transitive min-label reachability via a recursive CTE.
    // pairs/e MATERIALIZED: DuckDB would otherwise re-evaluate the
    // O(n²) Jaccard join on every recursion round. The size-ratio
    // guard is a necessary condition of the J >= 1/2 predicate
    // (i <= min, u >= max), evaluated on O(1) lengths first.
    "dp_dedup_clusters" ->
      s"""${DSH_CTE.replaceFirst("WITH ", "WITH RECURSIVE ")},
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a, s b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
              AND len(list_intersect(a.sh, b.sh)) * 2 >=
                  len(list_distinct(list_concat(a.sh, b.sh)))),
          e AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src)
          SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS rep_id
          FROM reach GROUP BY v ORDER BY doc_id""",

    // The closure again, joined back to every row with its cluster
    // size; weight is one IEEE division of exact integers.
    "dp_dedup_soft" ->
      s"""${DSH_CTE.replaceFirst("WITH ", "WITH RECURSIVE ")},
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a, s b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
              AND len(list_intersect(a.sh, b.sh)) * 2 >=
                  len(list_distinct(list_concat(a.sh, b.sh)))),
          e AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
          reps AS (SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS rep_id
                   FROM reach GROUP BY v),
          cs AS (SELECT rep_id, count(*) AS cluster_size FROM reps GROUP BY rep_id)
          SELECT d.doc_id, d.source, reps.rep_id,
                 CAST(cs.cluster_size AS BIGINT) AS cluster_size,
                 CAST(1.0 AS DOUBLE) / CAST(cs.cluster_size AS DOUBLE) AS weight
          FROM documents d JOIN reps USING (doc_id) JOIN cs USING (rep_id)
          ORDER BY d.doc_id""",

    // The dp_dedup_clusters closure, re-aggregated to the size
    // histogram the Spark side reports.
    "dp_dedup_stats" ->
      s"""${DSH_CTE.replaceFirst("WITH ", "WITH RECURSIVE ")},
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a, s b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
              AND len(list_intersect(a.sh, b.sh)) * 2 >=
                  len(list_distinct(list_concat(a.sh, b.sh)))),
          e AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
          reps AS (SELECT v AS doc_id, min(u) AS rep FROM reach GROUP BY v),
          cs AS (SELECT rep, count(*) AS cluster_size FROM reps GROUP BY rep)
          SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                 CAST(count(*) AS BIGINT) AS n_clusters,
                 CAST(cluster_size * count(*) AS BIGINT) AS n_docs
          FROM cs GROUP BY cluster_size ORDER BY cluster_size""",

    "dp_dedup_minhash_lsh" ->
      s"""$DSH_CTE
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_cnt,
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS union_cnt
          FROM s a, s b
          WHERE a.doc_id < b.doc_id
            AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
            AND len(list_intersect(a.sh, b.sh)) * 2 >= len(list_distinct(list_concat(a.sh, b.sh)))
          ORDER BY id_a, id_b""",

    // Incremental = the cross (new, old) slice of the brute-force
    // pair set; the Spark side reaches it through the persisted band
    // index instead of a corpus self-join.
    "dp_dedup_incremental" ->
      s"""$DSH_CTE
          SELECT n.doc_id AS new_id, o.doc_id AS old_id,
                 CAST(len(list_intersect(n.sh, o.sh)) AS BIGINT) AS inter_cnt,
                 CAST(len(list_distinct(list_concat(n.sh, o.sh))) AS BIGINT) AS union_cnt
          FROM s n, s o
          WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
            AND least(len(n.sh), len(o.sh)) * 2 >= greatest(len(n.sh), len(o.sh))
            AND len(list_intersect(n.sh, o.sh)) * 2 >= len(list_distinct(list_concat(n.sh, o.sh)))
          ORDER BY new_id, old_id""",

    // Streaming exact dedup with id-ordered arrival: first-wins =
    // min-id per content group.
    "dp_stream_dedup" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id""",

    // Streaming near-dedup survivors: the batch (doc_id % 5 = 0) minus
    // the larger side of every in-batch near-dup pair, minus docs
    // near-dup to any indexed (% 5 <> 0) doc — both relations the
    // exact-verified Jaccard >= 1/2 with the length block, identical
    // to dp_dedup_minhash_lsh / dp_dedup_incremental's oracles.
    // (uncorrelated drop-set CTEs: DuckDB 1.0 cannot bind a correlated
    // outer reference to a LIST column inside NOT EXISTS)
    "dp_stream_neardedup" ->
      s"""$DSH_CTE,
          drop_self AS (
            SELECT DISTINCT n.doc_id FROM s n JOIN s m
              ON m.doc_id % 5 = 0 AND m.doc_id < n.doc_id
                AND least(len(m.sh), len(n.sh)) * 2 >= greatest(len(m.sh), len(n.sh))
                AND len(list_intersect(m.sh, n.sh)) * 2 >= len(list_distinct(list_concat(m.sh, n.sh)))
            WHERE n.doc_id % 5 = 0
          ),
          drop_idx AS (
            SELECT DISTINCT n.doc_id FROM s n JOIN s o
              ON o.doc_id % 5 <> 0
                AND least(len(o.sh), len(n.sh)) * 2 >= greatest(len(o.sh), len(n.sh))
                AND len(list_intersect(o.sh, n.sh)) * 2 >= len(list_distinct(list_concat(o.sh, n.sh)))
            WHERE n.doc_id % 5 = 0
          )
          SELECT n.doc_id, n.n_chars FROM s n
          WHERE n.doc_id % 5 = 0
            AND n.doc_id NOT IN (SELECT doc_id FROM drop_self)
            AND n.doc_id NOT IN (SELECT doc_id FROM drop_idx)
          ORDER BY doc_id""",

    // Streaming sessionize, sentinel-flushed = the batch inactivity-gap
    // rollup (events_sessionize minus the session_no ordinal).
    "dp_stream_sessionize" ->
      s"""WITH g AS (
            SELECT user_id, $M AS mid, event_id AS rid,
                   lag($M) OVER (PARTITION BY user_id ORDER BY $M ASC, event_id ASC) AS prev
            FROM events WHERE user_id IS NOT NULL
          ), b AS (
            SELECT user_id, mid, rid,
                   CASE WHEN prev IS NULL OR mid - prev > 1800000 THEN 1 ELSE 0 END AS new_s
            FROM g
          ), s AS (
            SELECT user_id, mid,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY mid ASC, rid ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
            FROM b
          )
          SELECT user_id, min(mid) AS start_ms, max(mid) AS end_ms,
                 count(*) AS n_events
          FROM s GROUP BY user_id, session_no
          ORDER BY user_id ASC, start_ms ASC""",

    // Streaming span removal replayed stage-by-stage, position-by-
    // position: stage 1 (history precedence) excises batch chars
    // covered by any rest-corpus (doc_id % 5 <> 0) window — exactly
    // dp_dedup_substring_remove_incr's relation; stage 2 (batch-
    // internal first occurrence) re-runs the dp_dedup_substring_remove
    // formulation over the STAGE-1 TEXT: a char is excised iff covered
    // by a 24-window of the stage-1 text whose min owner within the
    // batch is an earlier doc. Counts report against the ORIGINAL text.
    "dp_stream_spanremove" ->
      """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         ip AS (SELECT text, unnest(generate_series(1, length(text) - 23)) AS start
                FROM documents WHERE doc_id % 5 <> 0 AND length(text) >= 24),
         iw AS (SELECT DISTINCT substring(text, start, 24) AS win FROM ip),
         bp AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS start
                FROM b WHERE length(text) >= 24),
         bw AS (SELECT doc_id, start, substring(text, start, 24) AS win FROM bp),
         cov1 AS (SELECT bw.doc_id, bw.start FROM bw JOIN iw USING (win)),
         covpos1 AS (SELECT DISTINCT doc_id, start + unnest(generate_series(0, 23)) AS p
                     FROM cov1),
         ch1 AS (SELECT doc_id, unnest(generate_series(1, length(text))) AS p, text FROM b),
         ch1c AS (SELECT doc_id, p, substring(text, p, 1) AS c FROM ch1),
         kept1 AS (SELECT ch1c.doc_id, ch1c.p, ch1c.c FROM ch1c
                   LEFT JOIN covpos1 v ON v.doc_id = ch1c.doc_id AND v.p = ch1c.p
                   WHERE v.p IS NULL),
         t1 AS (SELECT b.doc_id, coalesce(a.t, '') AS t1
                FROM b LEFT JOIN (SELECT doc_id, string_agg(c, '' ORDER BY p) AS t
                                  FROM kept1 GROUP BY doc_id) a USING (doc_id)),
         p2 AS (SELECT doc_id, t1, unnest(generate_series(1, length(t1) - 23)) AS start
                FROM t1 WHERE length(t1) >= 24),
         pw2 AS (SELECT doc_id, start, substring(t1, start, 24) AS win FROM p2),
         own2 AS (SELECT win, min(doc_id) AS first_id FROM pw2 GROUP BY win),
         cov2 AS (SELECT pw2.doc_id, pw2.start FROM pw2 JOIN own2 USING (win)
                  WHERE own2.first_id < pw2.doc_id),
         covpos2 AS (SELECT DISTINCT doc_id, start + unnest(generate_series(0, 23)) AS p
                     FROM cov2),
         ch2 AS (SELECT doc_id, unnest(generate_series(1, length(t1))) AS p, t1 FROM t1),
         ch2c AS (SELECT doc_id, p, substring(t1, p, 1) AS c FROM ch2),
         kept2 AS (SELECT ch2c.doc_id, ch2c.p, ch2c.c FROM ch2c
                   LEFT JOIN covpos2 v ON v.doc_id = ch2c.doc_id AND v.p = ch2c.p
                   WHERE v.p IS NULL),
         agg2 AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS clean_text
                  FROM kept2 GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(length(d.text) AS BIGINT) AS n_chars,
                CAST(length(d.text) - length(coalesce(a.clean_text, '')) AS BIGINT) AS n_removed,
                coalesce(a.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN agg2 a USING (doc_id)
         WHERE d.doc_id % 5 = 0
         ORDER BY d.doc_id""",

    // Follow-search replayed: the stream's drift re-stamp (T2,
    // request time 2024-01-15T00:00:00Z, 24 h past / 5 min future
    // allowance) as a CASE, then the same filter + ORDER BY/LIMIT the
    // batch search rows answer to.
    "seq_stream_follow" ->
      s"""WITH m AS (
            SELECT CASE WHEN $M < ${T15 - 86400000L} OR $M > ${T15 + 300000L}
                        THEN $T15 ELSE $M END AS mid,
                   event_id, event_type, value
            FROM events)
          SELECT mid, event_id, event_type, value FROM m
          WHERE event_type = 'error' AND value >= 10
          ORDER BY mid DESC, event_id DESC LIMIT 500""",

    // Watermark-finalized live counts = the batch daily GROUP BY.
    "seq_stream_livecount" ->
      s"""SELECT $M - $M % 86400000 AS bucket_ms,
                 coalesce(event_type, '_not_exists') AS name,
                 count(*) AS value
          FROM events GROUP BY 1, 2 ORDER BY bucket_ms, name""",

    "dp_embed_neardup" ->
      s"""${nearDupPairJoinSql(""",
               CAST(floor(list_dot_product(a.v, b.v) * 1000000 + 0.5) AS BIGINT) AS dot_e6""")}
        ORDER BY id_a, id_b""",

    // MMR greedy replayed as chained argmax CTEs: pool = top-20 by
    // relevance, sim = the pool's pairwise dots, then step n picks
    // argmax of rel*10 − 7*max(sim to picks 1..n−1) — the same scaled
    // objective and IEEE op order as the engine's driver greedy (step
    // 1's redundancy term is exactly zero, so `rel * 10` is
    // bit-identical to rel*10 − 7*0.0).
    "dp_mmr" -> {
      val steps = (2 to 5).map { n =>
        val prev = (1 until n).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
        s"""r$n AS (SELECT p.id, p.rel,
              (SELECT max(s) FROM sim WHERE sim.ia = p.id AND sim.ib IN ($prev)) AS ms
            FROM pool p WHERE p.id NOT IN ($prev)),
          s$n AS (SELECT id, rel * 10 - 7 * ms AS m FROM r$n ORDER BY m DESC, id ASC LIMIT 1)"""
      }.mkString(",\n")
      val unions = (1 to 5).map(n =>
        s"SELECT CAST($n AS BIGINT) AS rank, id AS vec_id, CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS mmr_scaled_e6 FROM s$n")
        .mkString(" UNION ALL ")
      s"""WITH pool AS (
            SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
                   list_dot_product(
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0),
                     CAST(e.embedding AS DOUBLE[])) AS rel
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY rel DESC, id ASC LIMIT 20),
          sim AS (SELECT a.id AS ia, b.id AS ib, list_dot_product(a.v, b.v) AS s
                  FROM pool a JOIN pool b ON a.id <> b.id),
          s1 AS (SELECT id, rel * 10 AS m FROM pool ORDER BY m DESC, id ASC LIMIT 1),
          $steps
          SELECT rank, vec_id, mmr_scaled_e6 FROM ($unions) ORDER BY rank"""
    },

    // pair graph = the cutover-aware near-dup contract (the shared
    // nearDupPairCtes/nearDupPairSelect, same CTEs dp_embed_neardup
    // uses), closed transitively (the dp_dedup_clusters recursive
    // pattern), keeping rows that are their own min-label
    // representative.
    "dp_dedup_semantic" ->
      s"""WITH RECURSIVE $nearDupPairCtes,
         p AS MATERIALIZED (
           ${nearDupPairSelect("")}),
         ed AS MATERIALIZED (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION SELECT id_b, id_a FROM p),
         reach(v, u) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r.v, ed.dst FROM reach r JOIN ed ON r.u = ed.src),
         reps AS (SELECT v AS vec_id, min(u) AS rep FROM reach GROUP BY v)
         SELECT emb.vec_id, emb.label
         FROM embeddings emb JOIN reps USING (vec_id)
         WHERE reps.vec_id = reps.rep
         ORDER BY emb.vec_id""",

    "dp_ann_topk" ->
      """WITH q AS (
           SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
         ), scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
           FROM q, embeddings e WHERE e.vec_id <> q.query_id
         ), r AS (
           SELECT query_id, neighbor_id, d,
                  row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rn
           FROM scored
         )
         SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
                CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS dot_e6
         FROM r WHERE rn <= 10 ORDER BY query_id, rank""",

    // Hard negatives: the exclusion is per query (e.label <> q.label),
    // not a static corpus predicate.
    "dp_hard_negatives" ->
      """WITH q AS (
           SELECT vec_id AS query_id, label AS q_label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
         ), scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  CAST(e.label AS BIGINT) AS neg_label,
                  list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
           FROM q, embeddings e
           WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
         ), r AS (
           SELECT query_id, neighbor_id, neg_label, d,
                  row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rn
           FROM scored
         )
         SELECT query_id, neighbor_id, neg_label, CAST(rn AS BIGINT) AS rank,
                CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS dot_e6
         FROM r WHERE rn <= 10 ORDER BY query_id, rank""",

    // Triplet mining: the same scored scan split into a same-label
    // positive window (rn = 1) and a different-label negative window
    // (rank <= k), joined on the anchor.
    "dp_triplet_mine" ->
      """WITH q AS (
           SELECT vec_id AS query_id, label AS q_label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
         ), scored AS (
           SELECT q.query_id, q.q_label, e.vec_id AS nid, e.label AS nlabel,
                  list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
           FROM q, embeddings e WHERE e.vec_id <> q.query_id
         ), pos AS (
           SELECT query_id, nid AS pos_id,
                  CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS pos_dot_e6,
                  row_number() OVER (PARTITION BY query_id ORDER BY d DESC, nid ASC) AS rn
           FROM scored WHERE nlabel = q_label
         ), neg AS (
           SELECT query_id, nid AS neg_id,
                  CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS neg_dot_e6,
                  row_number() OVER (PARTITION BY query_id ORDER BY d DESC, nid ASC) AS rank
           FROM scored WHERE nlabel <> q_label
         )
         SELECT n.query_id, p.pos_id, p.pos_dot_e6, n.neg_id,
                CAST(n.rank AS BIGINT) AS rank, n.neg_dot_e6
         FROM neg n JOIN pos p ON p.query_id = n.query_id AND p.rn = 1
         WHERE n.rank <= 5
         ORDER BY n.query_id, n.rank""",

    // Hybrid search: the metadata predicate restricts the corpus side
    // only — queries are taken from the unfiltered table.
    "dp_ann_filtered" ->
      """WITH q AS (
           SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
         ), scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
           FROM q, embeddings e
           WHERE e.vec_id <> q.query_id AND e.label = 2
         ), r AS (
           SELECT query_id, neighbor_id, d,
                  row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rn
           FROM scored
         )
         SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
                CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS dot_e6
         FROM r WHERE rn <= 10 ORDER BY query_id, rank""",

    // Integer micro-unit sums per (label, dimension); the centroid mean is
    // sum_e6/n, derivable — kept out of the compared output so the hash has
    // no float-rendering surface. See Similarity.groupCentroids.
    "dp_centroids" ->
      """WITH u AS (
           SELECT label AS grp,
                  unnest(range(1, len(embedding)+1)) - 1 AS dim,
                  unnest(CAST(embedding AS DOUBLE[])) AS v
           FROM embeddings)
         SELECT grp, CAST(dim AS BIGINT) AS dim, count(*) AS n,
                CAST(sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e6
         FROM u GROUP BY grp, dim ORDER BY grp, dim""",

    // Lloyd k-means replayed iteration-for-iteration in SQL: e6
    // integer lattice, integer squared-L2 distances, ties to the
    // lowest cell, centroid update floor(sum/n) with empty cells
    // keeping the previous centroid — every step exact, so the
    // assignment must match bit-for-bit. Seed = the 8 smallest ids'
    // vectors (cell = rank in id order), 2 assignment passes with one
    // update between, mirroring Similarity.kmeansAssign.
    "dp_kmeans" ->
      s"""WITH $kmeansCtes
         SELECT id, CAST(cell AS BIGINT) AS cell, CAST(dist AS BIGINT) AS dist
         FROM a2 ORDER BY id""",

    // Cluster-balanced selection: the kmeans CTEs feed the same mix64
    // priority sampler dp_sample_stratified uses, partitioned by CELL
    // — exactly-k uniform per cluster, the balanced-coverage sampling
    // step of cluster-based curation.
    "dp_cluster_sample" ->
      s"""WITH $kmeansCtes,
          ${mix64Ctes("SELECT id, cell, CAST(id AS BIGINT) AS uid FROM a2", p = "s")},
          r AS (SELECT cell, id,
                       row_number() OVER (PARTITION BY cell ORDER BY sh63 ASC, id ASC) AS rn
                FROM smh)
          SELECT CAST(cell AS BIGINT) AS cell, CAST(rn AS BIGINT) AS sample_rank, id
          FROM r WHERE rn <= 25 ORDER BY cell, sample_rank""",

    // Quantization mirrored integer-for-integer: q = floor(x·127/amax
    // + 0.5) — identical IEEE division/mult order on both engines.
    "dp_quantize_int8" ->
      """WITH v AS (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), a AS (
           SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v
         ), u AS (
           SELECT id, amax,
                  unnest(range(1, len(v)+1)) - 1 AS dim,
                  unnest(v) AS x
           FROM a)
         SELECT id, CAST(dim AS BIGINT) AS dim,
                CASE WHEN amax = 0 THEN 0
                     ELSE CAST(floor(x * 127 / amax + 0.5) AS BIGINT) END AS q,
                CAST(floor(amax * 1000000000 + 0.5) AS BIGINT) AS amax_e9
         FROM u ORDER BY id, dim""",

    // Integer dot products of the quantized vectors; the ranking key
    // replays Spark's operand order ((int_dot::DOUBLE * sq) * sn).
    "dp_ann_int8" ->
      """WITH v AS (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), a AS (
           SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v
         ), q AS (
           SELECT id,
                  CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(v, x -> CAST(floor(x * 127 / amax + 0.5) AS BIGINT)) END AS qv,
                  amax / 127.0 AS scale
           FROM a
         ), p AS (
           SELECT qq.id AS query_id, nn.id AS neighbor_id,
                  qq.scale AS sq, nn.scale AS sn, qq.qv AS qa, nn.qv AS qb
           FROM q qq JOIN q nn ON nn.id <> qq.id
           WHERE qq.id IN (0, 1, 2, 3, 4)
         ), d AS (
           SELECT query_id, neighbor_id, sq, sn,
                  CAST(list_sum(list_transform(range(1, len(qa)+1),
                    i -> qa[i] * qb[i])) AS BIGINT) AS int_dot
           FROM p
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY (CAST(int_dot AS DOUBLE) * sq) * sn DESC, neighbor_id ASC) AS rn
           FROM d)
         SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, int_dot,
                CAST(floor(((CAST(int_dot AS DOUBLE) * sq) * sn) * 1000000 + 0.5) AS BIGINT) AS approx_e6
         FROM r WHERE rn <= 10 ORDER BY query_id, rank""",

    // Two-stage: the int8 CTE chain shortlists 50, then ONLY those are
    // float re-scored (list_dot_product = the engine's left-to-right
    // fold) and re-ranked to the final 10.
    "dp_ann_int8_rerank" ->
      """WITH v AS (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), a AS (
           SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v
         ), q AS (
           SELECT id,
                  CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(v, x -> CAST(floor(x * 127 / amax + 0.5) AS BIGINT)) END AS qv,
                  amax / 127.0 AS scale
           FROM a
         ), p AS (
           SELECT qq.id AS query_id, nn.id AS neighbor_id,
                  qq.scale AS sq, nn.scale AS sn, qq.qv AS qa, nn.qv AS qb
           FROM q qq JOIN q nn ON nn.id <> qq.id
           WHERE qq.id IN (0, 1, 2, 3, 4)
         ), d AS (
           SELECT query_id, neighbor_id, sq, sn,
                  CAST(list_sum(list_transform(range(1, len(qa)+1),
                    i -> qa[i] * qb[i])) AS BIGINT) AS int_dot
           FROM p
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY (CAST(int_dot AS DOUBLE) * sq) * sn DESC, neighbor_id ASC) AS rn
           FROM d
         ), s AS (
           SELECT query_id, neighbor_id FROM r WHERE rn <= 50
         ), e AS (
           SELECT s.query_id, s.neighbor_id,
                  list_dot_product(vq.v, vn.v) AS fdot
           FROM s
           JOIN v vq ON vq.id = s.query_id
           JOIN v vn ON vn.id = s.neighbor_id
         ), f AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY fdot DESC, neighbor_id ASC) AS rk
           FROM e)
         SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank,
                CAST(floor(fdot * 1000000 + 0.5) AS BIGINT) AS dot_e6
         FROM f WHERE rk <= 10 ORDER BY query_id, rank""",

    // max over doubles is order-independent; same dot fold as the
    // engine (list_dot_product = left-to-right)
    "dp_decontaminate_embed" ->
      """WITH c AS (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE label <> 0
         ), b AS (
           SELECT CAST(embedding AS DOUBLE[]) AS bv FROM embeddings WHERE label = 0
         ), m AS (
           SELECT c.id, max(list_dot_product(c.v, b.bv)) AS max_dot
           FROM c CROSS JOIN b GROUP BY c.id
         )
         SELECT id, CAST(floor(max_dot * 1000000 + 0.5) AS BIGINT) AS max_dot_e6
         FROM m WHERE max_dot < 0.35 ORDER BY id""",

    "dp_lang_id" ->
      s"""WITH t AS (SELECT doc_id, text, $DTOKS AS toks FROM documents),
          c AS (
            SELECT doc_id,
              CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS BIGINT) AS s_en,
              CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','nicht','ein'))) AS BIGINT) AS s_de,
              CAST(len(list_filter(toks, x -> x IN ('que','los','las','una','por','el'))) AS BIGINT) AS s_es,
              CAST(len(list_filter(toks, x -> x IN ('le','les','des','une','est','dans'))) AS BIGINT) AS s_fr,
              CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS s_zh
            FROM t)
          SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
                 CASE WHEN s_zh > 0 THEN 'zh'
                      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                      WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                      WHEN s_es >= s_fr THEN 'es'
                      ELSE 'fr' END AS pred_lang
          FROM c ORDER BY doc_id ASC""",

    "dp_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $DTOKS AS toks FROM documents),
          c AS (
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS text_len,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS BIGINT) AS n_punct,
              CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','a','der','die','und','das','nicht','ein','que','los','las','una','por','el','le','les','des','une','est','dans'))) AS BIGINT) AS n_stop
            FROM t)
          SELECT doc_id, text_len, n_tokens, n_distinct, n_punct, n_digit, n_stop,
                 CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) * CAST(0.5 AS DOUBLE)
                   + CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) * CAST(0.3 AS DOUBLE)
                   + CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   AS quality_score
          FROM c ORDER BY doc_id ASC""",

    // Same composite score as dp_quality; the budget walk is a plain
    // windowed SUM over (score DESC, doc_id ASC) — the oracle form of
    // the distributed two-phase prefix scan — keeping rows whose
    // exclusive prefix is under budget.
    "dp_quality_budget" ->
      s"""WITH t AS (SELECT doc_id, text, $DTOKS AS toks FROM documents),
          c AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_toks,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','a','der','die','und','das','nicht','ein','que','los','las','una','por','el','le','les','des','une','est','dans'))) AS BIGINT) AS n_stop
            FROM t),
          q AS (
            SELECT doc_id, n_toks,
              CAST(n_distinct AS DOUBLE) / CAST(greatest(n_toks, 1) AS DOUBLE) * CAST(0.5 AS DOUBLE)
                + CAST(n_stop AS DOUBLE) / CAST(greatest(n_toks, 1) AS DOUBLE) * CAST(0.3 AS DOUBLE)
                + CASE WHEN n_toks BETWEEN 20 AND 1000 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                AS quality_score
            FROM c),
          s AS (
            SELECT doc_id, quality_score, n_toks,
              sum(n_toks) OVER (ORDER BY quality_score DESC, doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM q)
          SELECT doc_id, quality_score, n_toks, CAST(cum AS BIGINT) AS cum
          FROM s WHERE cum - n_toks < 10000 ORDER BY doc_id ASC""",

    "dp_token_counts" ->
      s"""SELECT doc_id,
              CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS re_tokens,
              CAST(len(list_distinct($DTOKS)) AS BIGINT) AS uniq_tokens
          FROM documents ORDER BY doc_id ASC""",

    "dp_normalize" ->
      """SELECT doc_id,
               trim(regexp_replace(lower(nfc_normalize(text)), '[\s\p{Z}]+', ' ', 'g')) AS norm,
               CAST(length(trim(regexp_replace(lower(nfc_normalize(text)), '[\s\p{Z}]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM documents ORDER BY doc_id ASC""",

    "dp_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id ASC""",

    "dp_pii_redact" ->
      """SELECT event_id,
               CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(props, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_digit_runs,
               regexp_replace(regexp_replace(regexp_replace(props,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                 '[0-9]{2,}', '<NUM>', 'g') AS redacted
        FROM events ORDER BY event_id ASC""",

    "dp_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          s AS (SELECT doc_id, $DSHINGLES AS sh FROM t),
          b AS (SELECT list(DISTINCT sx) AS bsh
                FROM (SELECT unnest(sh) AS sx FROM s WHERE doc_id % 20 = 0))
          SELECT doc_id, CAST(len(list_intersect(s.sh, b.bsh)) AS BIGINT) AS n_overlap
          FROM s, b
          WHERE doc_id % 20 <> 0 AND len(list_intersect(s.sh, b.bsh)) >= 5
          ORDER BY doc_id""",

    // Bloom path compared against the EXACT report: with 2^22 bits / 5
    // hashes over the gate-SF bench shingle set the expected FP count is
    // ~0, so the upper bound collapses to equality. If this row ever goes
    // red, the bloom is undersized for the corpus — the signal we want.
    "dp_decontaminate_bloom" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          s AS (SELECT doc_id, $DSHINGLES AS sh FROM t),
          b AS (SELECT list(DISTINCT sx) AS bsh
                FROM (SELECT unnest(sh) AS sx FROM s WHERE doc_id % 20 = 0))
          SELECT doc_id, CAST(len(list_intersect(s.sh, b.bsh)) AS BIGINT) AS n_overlap
          FROM s, b
          WHERE doc_id % 20 <> 0 AND len(list_intersect(s.sh, b.bsh)) >= 5
          ORDER BY doc_id""",

    "dp_frames" ->
      """WITH p AS (SELECT doc_id AS id, encode(text) AS b FROM documents),
         f AS (SELECT id, b, CAST(octet_length(b) AS BIGINT) AS n FROM p),
         x AS (SELECT id, b, n, unnest(range(0, (n + 63) // 64, 2)) AS i FROM f)
         SELECT CAST(id AS BIGINT) AS id, CAST(i AS BIGINT) AS frame_idx,
                CAST(i * 64 AS BIGINT) AS off,
                CAST(least(64, n - i * 64) AS BIGINT) AS frame_len,
                substring(hex(b), CAST(i * 64 * 2 + 1 AS INT),
                          CAST(least(4, n - i * 64) * 2 AS INT)) AS head_hex
         FROM x WHERE i // 2 < 5
         ORDER BY id, frame_idx""",

    "dp_resize" ->
      """WITH p AS (SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
         d AS (SELECT id, CAST(n % 640 + 1 AS BIGINT) AS src_w,
                      CAST((n * 7) % 480 + 1 AS BIGINT) AS src_h FROM p),
         r AS (SELECT id, src_w, src_h,
                 CASE WHEN src_w * 240 <= src_h * 320
                      THEN least(240, src_h) ELSE least(320, src_w) END AS num,
                 CASE WHEN src_w * 240 <= src_h * 320
                      THEN src_h ELSE src_w END AS den
               FROM d)
         SELECT CAST(id AS BIGINT) AS id, src_w, src_h,
                CAST(greatest(1, src_w * num // den) AS BIGINT) AS dst_w,
                CAST(greatest(1, src_h * num // den) AS BIGINT) AS dst_h,
                CAST(greatest(1, src_w * num // den)
                     * greatest(1, src_h * num // den) * 3 AS BIGINT) AS est_bytes
         FROM r ORDER BY id""",

    // text payloads carry no PNG/WAV magic, so every row takes the
    // sniffer's declared fallback route (kind='other', length-derived
    // pseudo-features)
    "dp_multimodal_stub" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               substr(hex(encode(text)), 1, 16) AS head_hex,
               'other' AS kind,
               CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
               CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels
        FROM documents ORDER BY id ASC""",

    // Mixed corpus: the sniffer must route id%3==0 through the real
    // PNG raster decode (dims + channels from the encoded color
    // type), id%3==1 through the real WAV PCM decode (frames, rate,
    // channels), the rest through the fallback — all parameters are
    // the withMixedPayload id arithmetic, recomputed here
    "dp_multimodal_sniff" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'other' END AS kind,
               CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN doc_id % 24 + 1
                    WHEN 1 THEN doc_id % 32 + 1
                    ELSE octet_length(encode(text)) % 640 + 1 END AS BIGINT) AS width,
               CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN (doc_id * 7) % 24 + 1
                    WHEN 1 THEN 8000 + ((doc_id // 3) % 4) * 4000
                    ELSE (octet_length(encode(text)) * 7) % 480 + 1 END AS BIGINT) AS height,
               CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN (CASE CAST((doc_id // 3) % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)
                    WHEN 1 THEN (doc_id // 3) % 2 + 1
                    ELSE 3 END AS BIGINT) AS channels
        FROM documents ORDER BY id ASC""",

    // What the PNG payload ENCODES is pure id arithmetic — so the
    // oracle recomputes it directly, and the Spark row is green only
    // if encode→bytes→decode round-trips every field exactly
    "dp_multimodal_png" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
               CAST(doc_id % 640 + 1 AS BIGINT) AS width,
               CAST((doc_id * 7) % 480 + 1 AS BIGINT) AS height,
               CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS channels
        FROM documents ORDER BY id ASC""",

    // The pixel oracle replays the ENTIRE raster sample-by-sample:
    // dims/channels from id arithmetic, pixel_sum by enumerating
    // (x, y, c) and summing (id + 3x + 7y + 11c) mod 256 — the same
    // closed form the writer encodes. The Spark row reproduces it
    // only if deflate -> IDAT -> inflate -> unfilter round-trips
    // every single byte.
    "dp_multimodal_pixels" ->
      """WITH d AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
                  CAST(doc_id % 16 + 1 AS BIGINT) AS w,
                  CAST((doc_id * 7) % 16 + 1 AS BIGINT) AS h,
                  CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS BIGINT) AS ch
           FROM documents)
         SELECT d.id, d.w AS width, d.h AS height, d.ch AS channels,
                CAST(d.w * d.h * d.ch AS BIGINT) AS n_pixel_bytes,
                CAST(sum((d.id + 3*x.g + 7*y.g + 11*c.g) % 256) AS BIGINT) AS pixel_sum
         FROM d, generate_series(0, 15) x(g),
                 generate_series(0, 15) y(g),
                 generate_series(0, 3) c(g)
         WHERE x.g < d.w AND y.g < d.h AND c.g < d.ch
         GROUP BY d.id, d.w, d.h, d.ch
         ORDER BY d.id ASC""",

    // 16-bit raster: same re-enumeration as dp_multimodal_pixels but
    // mod 65536, channels from id % 2 (gray16 / rgb16) — the engine
    // side must ALSO survive half the streams being Adam7-interlaced
    // to reproduce these sums
    "dp_multimodal_png16" ->
      """WITH d AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
                  CAST(doc_id % 16 + 1 AS BIGINT) AS w,
                  CAST((doc_id * 7) % 16 + 1 AS BIGINT) AS h,
                  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS ch
           FROM documents)
         SELECT d.id, d.w AS width, d.h AS height, d.ch AS channels,
                CAST(16 AS BIGINT) AS bit_depth,
                CAST(d.w * d.h * d.ch AS BIGINT) AS n_samples,
                CAST(sum((d.id + 3*x.g + 7*y.g + 11*c.g) % 65536) AS BIGINT) AS sample_sum
         FROM d, generate_series(0, 15) x(g),
                 generate_series(0, 15) y(g),
                 generate_series(0, 2) c(g)
         WHERE x.g < d.w AND y.g < d.h AND c.g < d.ch
         GROUP BY d.id, d.w, d.h, d.ch
         ORDER BY d.id ASC""",

    // The WAV oracle replays the ENTIRE PCM stream sample-by-sample:
    // format fields from id arithmetic, sample_sum by enumerating
    // (frame, channel) and summing ((id + 13f + 17c) mod 65536) - 32768
    // — the same closed form the writer encodes. The Spark row
    // reproduces it only if the RIFF framing, little-endian layout and
    // sign extension all round-trip exactly.
    "dp_multimodal_wav" ->
      """WITH d AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
                  CAST(doc_id % 32 + 1 AS BIGINT) AS nf,
                  CAST(doc_id % 2 + 1 AS BIGINT) AS ch,
                  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS rate
           FROM documents)
         SELECT d.id, d.rate AS sample_rate, d.ch AS channels,
                CAST(16 AS BIGINT) AS bits, d.nf AS n_frames,
                CAST(sum((d.id + 13*f.g + 17*c.g) % 65536 - 32768) AS BIGINT) AS sample_sum
         FROM d, generate_series(0, 31) f(g), generate_series(0, 1) c(g)
         WHERE f.g < d.nf AND c.g < d.ch
         GROUP BY d.id, d.rate, d.ch, d.nf
         ORDER BY d.id ASC""",

    // The oracle uses DuckDB's NATIVE ASOF JOIN — a genuinely different
    // algorithm from the Spark union+running-window implementation, so
    // this checks semantics, not implementation echoes. Clicks are
    // deduped to one row per (user, ms) by max event_id first, matching
    // the Spark side's tiebreak.
    "events_asof" ->
      s"""WITH e AS (
            SELECT event_id, $M AS mid, user_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM events
          ), c AS (
            SELECT user_id, mid AS click_mid,
                   arg_max(value_cents, event_id) AS click_cents
            FROM e WHERE event_type = 'click' GROUP BY user_id, mid
          ), p AS (
            SELECT event_id, mid, user_id, value_cents
            FROM e WHERE event_type = 'purchase'
          )
          SELECT p.event_id, p.mid, p.user_id, p.value_cents,
                 c.click_mid, c.click_cents
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.mid >= c.click_mid
          ORDER BY p.event_id ASC""",

    "events_funnel" ->
      s"""WITH e AS (
            SELECT user_id, $M AS mid, event_type FROM events
          ), s1 AS (
            SELECT user_id, min(mid) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY user_id
          ), s2 AS (
            SELECT e.user_id, min(e.mid) AS t2 FROM e
            JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.mid > s1.t1 GROUP BY e.user_id
          ), s3 AS (
            SELECT e.user_id, min(e.mid) AS t3 FROM e
            JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.mid > s2.t2 GROUP BY e.user_id
          )
          SELECT s1.user_id, s1.t1, s2.t2, s3.t3
          FROM s1
          LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id
          ORDER BY s1.user_id ASC""",

    // Plain global windowed SUM — the textbook formulation the Spark
    // side deliberately avoids (two-phase distributed prefix sum).
    "dp_pack" ->
      s"""WITH t AS (
            SELECT doc_id, CAST(len($DTOKS) AS BIGINT) AS n_tokens FROM documents
          ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM t)
          SELECT doc_id, n_tokens, cum,
                 CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 1024) AS BIGINT) AS shard
          FROM c ORDER BY doc_id ASC""",

    // Blob manifest: dp_pack's exclusive-prefix shard rule on byte
    // lengths, plus the contiguous within-shard offset (exclusive
    // running sum partitioned by shard).
    "dp_blob_manifest" ->
      """WITH t AS (
           SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents
         ), c AS (
           SELECT doc_id, n_bytes,
                  CAST(sum(n_bytes) OVER (ORDER BY doc_id) AS BIGINT) AS cum
           FROM t
         ), s AS (
           SELECT doc_id, n_bytes,
                  CAST(floor(CAST(cum - n_bytes AS DOUBLE) / 4096) AS BIGINT) AS shard
           FROM c)
         SELECT doc_id, n_bytes, shard,
                CAST(coalesce(sum(n_bytes) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
         FROM s ORDER BY doc_id ASC""",

    // The shuffle key is the salted mix64 chain replayed in HUGEINT
    // arithmetic; the returned ORDER IS the contract under test.
    "dp_shuffle" ->
      s"""WITH ${mix64Ctes("SELECT doc_id, source, CAST(xor(CAST(doc_id AS BIGINT), " +
           s"${dataprep.Sampling.ShuffleSalt}) AS BIGINT) AS uid FROM documents")}
          SELECT doc_id, source, h63 AS shuffle_key FROM mh
          ORDER BY shuffle_key ASC, doc_id ASC""",

    // Sequence packing replayed: the dp_pack prefix sum, then one row
    // per crossed example boundary via generate_series with the same
    // clamp arithmetic.
    "dp_seq_pack" ->
      s"""WITH t AS (
            SELECT doc_id, CAST(len($DTOKS) AS BIGINT) AS n_tokens FROM documents
          ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM t),
          s AS (SELECT doc_id, n_tokens, cum - n_tokens AS st, cum
                FROM c WHERE n_tokens > 0),
          e AS (SELECT doc_id, n_tokens, st, cum,
                       unnest(generate_series(st // 512, (cum - 1) // 512)) AS example
                FROM s)
          SELECT doc_id, n_tokens, CAST(example AS BIGINT) AS example,
                 CAST(greatest(st, example * 512) - example * 512 AS BIGINT) AS off_in_example,
                 CAST(least(cum, (example + 1) * 512) - greatest(st, example * 512) AS BIGINT) AS seg_len
          FROM e ORDER BY doc_id ASC, example ASC""",

    // dp_chunk's chunk CTE, keyed doc_id*1000+chunk_id, then the same
    // exclusive-prefix shard rule as dp_pack.
    "dp_chunk_pack" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          p AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                   CAST(1 + (greatest(0, len(toks) - 20) + 14) // 15 AS BIGINT) AS n_chunks
            FROM t WHERE len(toks) > 0),
          ch AS (SELECT doc_id, n, unnest(range(0, n_chunks)) AS chunk_id FROM p),
          o AS (
            SELECT doc_id * 1000 + chunk_id AS cid,
                   CAST(least(chunk_id*15 + 20, n) - (chunk_id*15 + 1) + 1 AS BIGINT) AS n_tokens
            FROM ch),
          c AS (
            SELECT cid, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY cid) AS BIGINT) AS cum
            FROM o)
          SELECT cid, n_tokens, cum,
                 CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 1024) AS BIGINT) AS shard
          FROM c ORDER BY cid ASC""",

    "dp_repetition" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          b AS (
            SELECT doc_id, toks,
              list_filter(list_transform(range(1, greatest(len(toks), 2)),
                i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]),
                x -> x IS NOT NULL) AS bi
            FROM t
          ), c AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              CAST(coalesce(list_max(list_transform(list_distinct(toks),
                w -> len(list_filter(toks, t -> t = w)))), 0) AS BIGINT) AS top_word_n,
              CAST(len(bi) AS BIGINT) AS n_bigrams,
              CAST(len(bi) - len(list_distinct(bi)) AS BIGINT) AS dup_bigram_n
            FROM b)
          SELECT doc_id, n_words, n_distinct, top_word_n, n_bigrams, dup_bigram_n,
                 CAST(n_words - n_distinct AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS dup_word_frac,
                 CAST(top_word_n AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS top_word_frac,
                 CAST(dup_bigram_n AS DOUBLE) / CAST(greatest(n_bigrams, 1) AS DOUBLE) AS dup_bigram_frac
          FROM c ORDER BY doc_id ASC""",

    // Gopher rules replayed: whitespace words, trimmed lines, every
    // ratio as the same integer cross-multiplication the engine uses —
    // `keep` must agree bit for bit.
    "dp_gopher_rules" ->
      """WITH w AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words,
                  list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines,
                  CAST(len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols
           FROM documents),
         c AS (
           SELECT doc_id,
                  CAST(len(words) AS BIGINT) AS n_words,
                  CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS word_chars,
                  CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
                  n_symbols,
                  CAST(len(lines) AS BIGINT) AS n_lines,
                  CAST(len(list_filter(lines, l ->
                    substring(l, 1, 1) = '-' OR substring(l, 1, 1) = '*'
                      OR substring(l, 1, 1) = '•')) AS BIGINT) AS bullet_lines,
                  CAST(len(list_filter(lines, l ->
                    l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS ellipsis_lines,
                  CAST(CAST(list_contains(words, 'the') AS INT)
                     + CAST(list_contains(words, 'be') AS INT)
                     + CAST(list_contains(words, 'to') AS INT)
                     + CAST(list_contains(words, 'of') AS INT)
                     + CAST(list_contains(words, 'and') AS INT)
                     + CAST(list_contains(words, 'that') AS INT)
                     + CAST(list_contains(words, 'have') AS INT)
                     + CAST(list_contains(words, 'with') AS INT) AS BIGINT) AS stops_present
           FROM w)
         SELECT doc_id, n_words, word_chars, alpha_words, n_symbols, n_lines,
                bullet_lines, ellipsis_lines, stops_present,
                (n_words BETWEEN 50 AND 100000
                  AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
                  AND 10 * n_symbols <= n_words
                  AND 10 * bullet_lines < 9 * n_lines
                  AND 10 * ellipsis_lines <= 3 * n_lines
                  AND 5 * alpha_words >= 4 * n_words
                  AND stops_present >= 2) AS keep
         FROM c ORDER BY doc_id ASC""",

    "dp_ngram_freq" ->
      s"""WITH t AS (SELECT $DTOKS AS toks FROM documents),
          b AS (
            SELECT list_filter(list_transform(range(1, greatest(len(toks), 2)),
              i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]),
              x -> x IS NOT NULL) AS bi
            FROM t
          ), u AS (SELECT unnest(bi) AS ngram FROM b)
          SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM u
          GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 50""",

    // Trigrams with multiplicity (guarded range — no null slots), df
    // per gram, then the per-doc duplicate-occurrence share.
    "dp_dup_ngram_frac" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          b AS (
            SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_transform(range(1, len(toks) - 1),
                  i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]
                       || ' ' || toks[CAST(i AS INT)+2])
              ELSE [] END AS gi
            FROM t
          ), u AS (SELECT doc_id, unnest(gi) AS g FROM b),
          d AS (SELECT g, count(DISTINCT doc_id) AS df FROM u GROUP BY g),
          j AS (
            SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM u JOIN d USING (g) GROUP BY u.doc_id)
          SELECT doc_id, n_grams, n_dup,
                 CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac
          FROM j ORDER BY doc_id ASC""",

    // Passage windows are the same integer arithmetic as dp_chunk's
    // (ceil(n/8) windows, per-index list_transform slices); the global
    // first-occurrence decision is a rank over (doc_id, p_idx) within
    // each passage's partition — identical tiebreak on both engines.
    "dp_passage_dedup" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          nz AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
                 FROM t WHERE len(toks) > 0),
          e AS (SELECT doc_id, toks, n, unnest(range(0, (n + 7) // 8)) AS p_idx FROM nz),
          x AS (SELECT doc_id, CAST(p_idx AS BIGINT) AS p_idx,
                  array_to_string(list_transform(
                    range(p_idx*8 + 1, least(p_idx*8 + 8, n) + 1),
                    i -> toks[CAST(i AS INT)]), ' ') AS passage
                FROM e),
          r AS (SELECT doc_id, p_idx, passage,
                  row_number() OVER (PARTITION BY passage
                                     ORDER BY doc_id ASC, p_idx ASC) AS rn
                FROM x)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
                 CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 coalesce(array_to_string(
                   list(passage ORDER BY p_idx ASC) FILTER (WHERE rn = 1), ' '),
                   '') AS clean_text
          FROM r GROUP BY doc_id ORDER BY doc_id ASC""",

    // Brute-force window self-join; the DF cap (2..50 docs per
    // window) is part of the operator's semantics, replicated here.
    // DISTINCT per (doc, window) on both sides; n_shared counts
    // distinct shared windows, which the grouped-pair engine emits
    // exactly once per (window, pair).
    "dp_dedup_substring" ->
      """WITH w AS (
           SELECT DISTINCT doc_id,
                  substring(text, unnest(generate_series(1, length(text) - 23)), 24) AS win
           FROM documents WHERE length(text) >= 24),
         keep AS (SELECT win FROM w GROUP BY win HAVING count(*) BETWEEN 2 AND 50)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM w a JOIN keep USING (win) JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY id_a, id_b""",

    // Winnowing replayed arithmetically: same md5-hex ordering, same
    // rightmost-min rule (first match in the reversed slice = last in
    // the slice), 1-based gram positions on both engines.
    "dp_dedup_substring_winnow" ->
      s"""WITH $winnowWinCtes,
         keep AS (SELECT win FROM w GROUP BY win HAVING count(*) BETWEEN 2 AND 50)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM w a JOIN keep USING (win) JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY id_a, id_b""",

    // Incremental run replayed: the same winnow selection, split into
    // index (doc_id % 5 != 0) and batch sides; the DF cap counts INDEX
    // postings only, matching the sidecar semantics.
    "dp_dedup_substring_incr" ->
      s"""WITH $winnowWinCtes,
         wi AS (SELECT doc_id, win FROM w WHERE doc_id % 5 <> 0),
         wb AS (SELECT doc_id, win FROM w WHERE doc_id % 5 = 0),
         keep AS (SELECT win FROM wi GROUP BY win HAVING count(*) <= 50)
         SELECT b.doc_id AS new_id, a.doc_id AS old_id,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM wb b JOIN keep USING (win) JOIN wi a ON a.win = b.win
         GROUP BY 1, 2 ORDER BY new_id, old_id""",

    // Span-removal replayed position-by-position: a char p of doc d is
    // removed iff covered by a 24-window whose global min owner is an
    // earlier doc; clean_text is the ordered concat of survivors. The
    // engine's interval-merge rebuild must equal this brute-force
    // per-char formulation exactly.
    "dp_dedup_substring_remove" ->
      """WITH p0 AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS start
           FROM documents WHERE length(text) >= 24),
         pw AS (SELECT doc_id, start, substring(text, start, 24) AS win FROM p0),
         own AS (SELECT win, min(doc_id) AS first_id FROM pw GROUP BY win),
         cov AS (SELECT pw.doc_id, pw.start FROM pw JOIN own USING (win)
                 WHERE own.first_id < pw.doc_id),
         covpos AS (SELECT DISTINCT doc_id, start + unnest(generate_series(0, 23)) AS p
                    FROM cov),
         ch AS (SELECT doc_id, unnest(generate_series(1, length(text))) AS p, text
                FROM documents),
         ch2 AS (SELECT doc_id, p, substring(text, p, 1) AS c FROM ch),
         kept AS (SELECT ch2.doc_id, ch2.p, ch2.c FROM ch2
                  LEFT JOIN covpos v ON v.doc_id = ch2.doc_id AND v.p = ch2.p
                  WHERE v.p IS NULL),
         agg AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS clean_text
                 FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(length(d.text) AS BIGINT) AS n_chars,
                CAST(length(d.text) - length(coalesce(a.clean_text, '')) AS BIGINT) AS n_removed,
                coalesce(a.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",

    // Attribution replayed: window occurrences grouped by (doc, global
    // min owner).
    "dp_span_attribution" ->
      """WITH p0 AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS start
           FROM documents WHERE length(text) >= 24),
         pw AS (SELECT doc_id, start, substring(text, start, 24) AS win FROM p0),
         own AS (SELECT win, min(doc_id) AS owner_id FROM pw GROUP BY win)
         SELECT pw.doc_id, own.owner_id,
                CAST(count(*) AS BIGINT) AS n_windows,
                CAST(min(pw.start) AS BIGINT) AS first_start,
                CAST(max(pw.start) AS BIGINT) AS last_start
         FROM pw JOIN own USING (win)
         WHERE own.owner_id < pw.doc_id
         GROUP BY pw.doc_id, own.owner_id
         ORDER BY pw.doc_id, own.owner_id""",

    // Incremental removal replayed: batch chars covered by any window
    // present in the index side (doc_id % 5 <> 0) are excised; batch
    // ids play no role.
    "dp_dedup_substring_remove_incr" ->
      """WITH bp AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS start
           FROM documents WHERE doc_id % 5 = 0 AND length(text) >= 24),
         bw AS (SELECT doc_id, start, substring(text, start, 24) AS win FROM bp),
         ip AS (
           SELECT text, unnest(generate_series(1, length(text) - 23)) AS start
           FROM documents WHERE doc_id % 5 <> 0 AND length(text) >= 24),
         iw AS (SELECT DISTINCT substring(text, start, 24) AS win FROM ip),
         cov AS (SELECT bw.doc_id, bw.start FROM bw JOIN iw USING (win)),
         covpos AS (SELECT DISTINCT doc_id, start + unnest(generate_series(0, 23)) AS p
                    FROM cov),
         ch AS (SELECT doc_id, unnest(generate_series(1, length(text))) AS p, text
                FROM documents WHERE doc_id % 5 = 0),
         ch2 AS (SELECT doc_id, p, substring(text, p, 1) AS c FROM ch),
         kept AS (SELECT ch2.doc_id, ch2.p, ch2.c FROM ch2
                  LEFT JOIN covpos v ON v.doc_id = ch2.doc_id AND v.p = ch2.p
                  WHERE v.p IS NULL),
         agg AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS clean_text
                 FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(length(d.text) AS BIGINT) AS n_chars,
                CAST(length(d.text) - length(coalesce(a.clean_text, '')) AS BIGINT) AS n_removed,
                coalesce(a.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.doc_id % 5 = 0
         ORDER BY d.doc_id""",

    // Chunk boundaries are exact integer arithmetic; per-index
    // list_transform avoids engine-specific slice-bound semantics.
    "dp_chunk" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          p AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                   CAST(1 + (greatest(0, len(toks) - 20) + 14) // 15 AS BIGINT) AS n_chunks
            FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id FROM p),
          o AS (
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   list_transform(range(chunk_id*15 + 1, least(chunk_id*15 + 20, n) + 1),
                                  i -> toks[CAST(i AS INT)]) AS ctoks
            FROM c)
          SELECT doc_id, chunk_id, CAST(len(ctoks) AS BIGINT) AS n_tokens,
                 array_to_string(ctoks, ' ') AS chunk_text
          FROM o ORDER BY doc_id ASC, chunk_id ASC""",

    // Same rational-idf BM25 the Spark side computes (see
    // CorpusStats.bm25Rank scaladoc): every factor is +,-,*,/ on
    // doubles in the same evaluation order, so scores are bit-equal.
    "dp_bm25" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          d AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
              CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf1,
              CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2,
              CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf3,
              CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS h1,
              CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END AS h2,
              CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END AS h3
            FROM t
          ), st AS (
            SELECT count(*) AS n, sum(dl) AS sumdl,
                   sum(h1) AS df1, sum(h2) AS df2, sum(h3) AS df3
            FROM d
          ), sc AS (
            SELECT doc_id, dl,
              (tf1 * ((((n - df1) + 0.5) / (df1 + 0.5)) * (1.2 + 1.0)))
                / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              + (tf2 * ((((n - df2) + 0.5) / (df2 + 0.5)) * (1.2 + 1.0)))
                / (tf2 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              + (tf3 * ((((n - df3) + 0.5) / (df3 + 0.5)) * (1.2 + 1.0)))
                / (tf3 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              AS score
            FROM d, st)
          SELECT doc_id, dl, score FROM sc WHERE score > 0
          ORDER BY score DESC, doc_id ASC LIMIT 20""",

    // dp_bm25's score CTEs verbatim for the lexical pool, dp_ann_topk's
    // dot ranking for the semantic pool (query 0), fused by RRF on the
    // integer ranks — 1/(60+rank) doubles summed in the written order.
    "dp_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          d AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
              CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf1,
              CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2,
              CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf3,
              CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS h1,
              CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END AS h2,
              CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END AS h3
            FROM t
          ), st AS (
            SELECT count(*) AS n, sum(dl) AS sumdl,
                   sum(h1) AS df1, sum(h2) AS df2, sum(h3) AS df3
            FROM d
          ), sc AS (
            SELECT doc_id, dl,
              (tf1 * ((((n - df1) + 0.5) / (df1 + 0.5)) * (1.2 + 1.0)))
                / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              + (tf2 * ((((n - df2) + 0.5) / (df2 + 0.5)) * (1.2 + 1.0)))
                / (tf2 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              + (tf3 * ((((n - df3) + 0.5) / (df3 + 0.5)) * (1.2 + 1.0)))
                / (tf3 + 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl AS DOUBLE))
                    / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
              AS score
            FROM d, st
          ), lex AS (
            SELECT doc_id, score FROM sc WHERE score > 0
            ORDER BY score DESC, doc_id ASC LIMIT 50
          ), lr AS (
            SELECT doc_id,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_lex
            FROM lex
          ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
          ), scored AS (
            SELECT e.vec_id AS doc_id,
                   list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d2
            FROM q, embeddings e WHERE e.vec_id <> 0
          ), sr0 AS (
            SELECT doc_id, row_number() OVER (ORDER BY d2 DESC, doc_id ASC) AS rn
            FROM scored
          ), sr AS (
            SELECT doc_id, CAST(rn AS BIGINT) AS rank_sem FROM sr0 WHERE rn <= 50
          ), f AS (
            SELECT doc_id, rank_lex, rank_sem,
              coalesce(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank_lex AS DOUBLE)), CAST(0.0 AS DOUBLE))
                + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank_sem AS DOUBLE)), CAST(0.0 AS DOUBLE))
                AS rrf_score
            FROM lr FULL OUTER JOIN sr USING (doc_id)
          ), g AS (
            SELECT doc_id, rank_lex, rank_sem, rrf_score,
              CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS fused_rank
            FROM f)
          SELECT doc_id, rank_lex, rank_sem, rrf_score, fused_rank
          FROM g WHERE fused_rank <= 20 ORDER BY fused_rank ASC""",

    // The whole curation pipeline replayed stage for stage: quality +
    // lang gates (dp_quality / dp_lang_id expressions verbatim), md5
    // exact dedup, brute-force-Jaccard near-dup components (equal to
    // the Spark side's LSH at these settings — dp_dedup_minhash_lsh
    // proves the equality on the same corpus), decontamination over
    // the SURVIVING bench docs, then the two salted hash chains for
    // mix and split.
    "dp_curate" -> {
      def rt(r: Double) = dataprep.Sampling.rateThreshold(r)
      val ts = dataprep.Sampling.thresholds(dataprep.Sampling.DefaultWeights)
      val splitCases = ts.init.map { case (n, t) => s"WHEN sph63 < $t THEN '$n'" }.mkString(" ")
      val stopAll = "('the','and','of','to','is','a','der','die','und','das'," +
        "'nicht','ein','que','los','las','una','por','el','le','les','des','une','est','dans')"
      s"""WITH RECURSIVE
          t0 AS (SELECT doc_id, text, source, $DTOKS AS toks FROM documents),
          q0 AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              CAST(len(list_filter(toks, x -> x IN $stopAll)) AS BIGINT) AS n_stop,
              CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS BIGINT) AS s_en,
              CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','nicht','ein'))) AS BIGINT) AS s_de,
              CAST(len(list_filter(toks, x -> x IN ('que','los','las','una','por','el'))) AS BIGINT) AS s_es,
              CAST(len(list_filter(toks, x -> x IN ('le','les','des','une','est','dans'))) AS BIGINT) AS s_fr,
              CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS s_zh
            FROM t0),
          q1 AS (
            SELECT doc_id,
              CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) * CAST(0.5 AS DOUBLE)
                + CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) * CAST(0.3 AS DOUBLE)
                + CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                AS quality_score,
              CASE WHEN s_zh > 0 THEN 'zh'
                   WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                   WHEN s_es >= s_fr THEN 'es'
                   ELSE 'fr' END AS pred_lang
            FROM q0),
          g AS (SELECT t0.doc_id, t0.text, t0.source, t0.toks, q1.quality_score, q1.pred_lang
                FROM t0 JOIN q1 USING (doc_id)
                WHERE q1.quality_score >= CAST(0.3 AS DOUBLE)
                  AND q1.pred_lang IN ('en','de','es','fr')),
          keepx AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
          g2 AS (SELECT g.* FROM g JOIN keepx USING (doc_id)),
          sh2 AS (SELECT doc_id, $DSHINGLES AS sh FROM g2),
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh2 a, sh2 b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
              AND len(list_intersect(a.sh, b.sh)) * 2 >=
                  len(list_distinct(list_concat(a.sh, b.sh)))),
          e AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT doc_id, doc_id FROM g2
            UNION
            SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
          reps AS (SELECT v AS doc_id, min(u) AS rep FROM reach GROUP BY v),
          g3 AS (SELECT g2.* FROM g2 JOIN reps ON g2.doc_id = reps.doc_id
                 WHERE reps.rep = g2.doc_id),
          s3 AS (SELECT sh2.* FROM sh2 JOIN g3 USING (doc_id)),
          bsh AS (SELECT list(DISTINCT sx) AS bsh
                  FROM (SELECT unnest(sh) AS sx FROM s3 WHERE doc_id % 20 = 0)),
          cont AS (SELECT s3.doc_id FROM s3, bsh
                   WHERE s3.doc_id % 20 <> 0
                     AND len(list_intersect(s3.sh, bsh.bsh)) >= 60),
          g4 AS (SELECT g3.* FROM g3
                 WHERE g3.doc_id % 20 <> 0
                   AND g3.doc_id NOT IN (SELECT doc_id FROM cont)),
          ${mix64Ctes("SELECT doc_id, CAST(xor(CAST(doc_id AS BIGINT), " +
            s"${dataprep.Sampling.WeightedMixSalt}) AS BIGINT) AS uid FROM g4", "mx")},
          g5 AS (SELECT g4.* FROM g4 JOIN mxmh ON g4.doc_id = mxmh.doc_id
                 WHERE CASE WHEN g4.source = 'src0' THEN TRUE
                            WHEN g4.source = 'src1' THEN mxmh.mxh63 < ${rt(0.5).get}
                            ELSE mxmh.mxh63 < ${rt(0.25).get} END),
          ${mix64Ctes("SELECT doc_id, CAST(doc_id AS BIGINT) AS uid FROM g5", "sp")}
          SELECT g5.doc_id, g5.source, g5.pred_lang, g5.quality_score,
                 CASE $splitCases ELSE '${ts.last._1}' END AS split
          FROM g5 JOIN spmh ON g5.doc_id = spmh.doc_id
          ORDER BY g5.doc_id"""
    },

    "dp_rarity" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          v AS (SELECT tok, count(*) AS freq FROM u GROUP BY tok),
          d AS (SELECT u.doc_id, count(*) AS n_tokens, sum(v.freq) AS sum_freq
                FROM u JOIN v USING (tok) GROUP BY u.doc_id)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(sum_freq AS BIGINT) AS sum_freq,
                 CAST(sum_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_freq
          FROM d ORDER BY doc_id ASC""",

    // Same vocabulary build as dp_rarity; nll quantized to integer
    // micro-nats PER VOCAB ENTRY (floor(x*1e6+0.5) — the engine's
    // portable rounding) before the per-doc integer sum, so a last-ulp
    // libm difference on ln cannot accumulate across tokens. ln() is
    // natural log in DuckDB (log() is base 10 — do not swap).
    "dp_lm_logprob" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          v AS (SELECT tok, count(*) AS freq FROM u GROUP BY tok),
          st AS (SELECT sum(freq) + count(*) AS denom FROM v),
          q AS (SELECT tok,
                  CAST(floor((ln(CAST(st.denom AS DOUBLE)) - ln(CAST(freq + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS nll_e6
                FROM v, st),
          d AS (SELECT u.doc_id, count(*) AS n_tokens, sum(q.nll_e6) AS sum_nll_e6
                FROM u JOIN q USING (tok) GROUP BY u.doc_id)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(sum_nll_e6 AS BIGINT) AS sum_nll_e6,
                 CAST(sum_nll_e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_nll_e6
          FROM d ORDER BY doc_id ASC""",

    // The BPE trainer replayed round-for-round: same weighting, same
    // argmax tie-break, same greedy fold (via list_reduce on the
    // space-joined unit string).
    "dp_bpe_merges" -> {
      val unions = (1 to 8)
        .map(k => s"SELECT CAST($k AS BIGINT) AS rank, l, r, m AS merged FROM m$k")
        .mkString(" UNION ALL ")
      s"WITH ${bpeCtes(8)} SELECT * FROM ($unions) ORDER BY rank"
    },

    // Apply replayed: the final unit table u8 joined back onto every
    // word occurrence in document order.
    "dp_bpe_apply" ->
      s"""WITH ${bpeCtes(8)},
          d0 AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          d1 AS (SELECT doc_id, unnest(toks) AS w,
                        unnest(range(1, len(toks) + 1)) AS pos FROM d0),
          d2 AS (SELECT d1.doc_id, d1.pos, u8.us FROM d1 JOIN u8 ON u8.w = d1.w),
          d3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(len(string_split(us, ' '))) AS BIGINT) AS n_units,
                  md5(string_agg(us, '|' ORDER BY pos ASC)) AS units_md5
                 FROM d2 GROUP BY doc_id)
          SELECT d0.doc_id,
                 CAST(coalesce(d3.n_words, 0) AS BIGINT) AS n_words,
                 CAST(coalesce(d3.n_units, 0) AS BIGINT) AS n_units,
                 coalesce(d3.units_md5, md5('')) AS units_md5
          FROM d0 LEFT JOIN d3 USING (doc_id) ORDER BY doc_id""",

    // dp_pack's exclusive-prefix shard rule over the BPE unit counts
    // (per-doc n_units from the final unit table).
    "dp_bpe_pack" ->
      s"""WITH ${bpeCtes(8)},
          d0 AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          d1 AS (SELECT doc_id, unnest(toks) AS w FROM d0),
          d2 AS (SELECT d1.doc_id,
                        CAST(len(string_split(u8.us, ' ')) AS BIGINT) AS nu
                 FROM d1 JOIN u8 ON u8.w = d1.w),
          d3 AS (SELECT d0.doc_id,
                        CAST(coalesce(s.nu, 0) AS BIGINT) AS n_units
                 FROM d0 LEFT JOIN (SELECT doc_id, sum(nu) AS nu FROM d2
                                    GROUP BY doc_id) s USING (doc_id)),
          c AS (SELECT doc_id, n_units,
                       CAST(sum(n_units) OVER (ORDER BY doc_id) AS BIGINT) AS cum
                FROM d3)
          SELECT doc_id, n_units, cum,
                 CAST(floor(CAST(cum - n_units AS DOUBLE) / 1024) AS BIGINT) AS shard
          FROM c ORDER BY doc_id ASC""",

    // Vocabulary: unit occurrences weighted by word count from the
    // final unit table, ranked (n DESC, unit ASC).
    "dp_bpe_vocab" ->
      s"""WITH ${bpeCtes(8)},
          vo AS (SELECT unnest(string_split(us, ' ')) AS unit, cnt FROM u8),
          vc AS (SELECT unit, CAST(sum(cnt) AS BIGINT) AS n FROM vo GROUP BY unit)
          SELECT CAST(row_number() OVER (ORDER BY n DESC, unit ASC) AS BIGINT) AS id,
                 unit, n
          FROM vc ORDER BY id""",

    // Encode: the final unit table joined onto every word occurrence,
    // ids from the vocabulary rank, digested in (word pos, unit pos)
    // order.
    "dp_bpe_encode" ->
      s"""WITH ${bpeCtes(8)},
          vo AS (SELECT unnest(string_split(us, ' ')) AS unit, cnt FROM u8),
          vc AS (SELECT unit, CAST(sum(cnt) AS BIGINT) AS n FROM vo GROUP BY unit),
          vr AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, unit ASC) AS BIGINT) AS id,
                        unit FROM vc),
          d0 AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          d1 AS (SELECT doc_id, unnest(toks) AS w,
                        unnest(range(1, len(toks) + 1)) AS wpos FROM d0),
          d2 AS (SELECT d1.doc_id, d1.wpos, u8.us FROM d1 JOIN u8 ON u8.w = d1.w),
          d4 AS (SELECT doc_id, wpos,
                        unnest(string_split(us, ' ')) AS unit,
                        unnest(range(1, len(string_split(us, ' ')) + 1)) AS upos
                 FROM d2),
          d5 AS (SELECT d4.doc_id, d4.wpos, d4.upos, vr.id FROM d4 JOIN vr USING (unit)),
          d6 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
                  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY wpos ASC, upos ASC)) AS ids_md5
                 FROM d5 GROUP BY doc_id)
          SELECT d0.doc_id,
                 CAST(coalesce(d6.n_units, 0) AS BIGINT) AS n_units,
                 coalesce(d6.ids_md5, md5('')) AS ids_md5
          FROM d0 LEFT JOIN d6 USING (doc_id) ORDER BY doc_id""",

    // The dp_lm_logprob vocabulary chain, ranked by the identical
    // IEEE mean division with doc-id tie-break, then the exact
    // equal-frequency bucket formula.
    "dp_ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, $DTOKS AS toks FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          v AS (SELECT tok, count(*) AS freq FROM u GROUP BY tok),
          st AS (SELECT sum(freq) + count(*) AS denom FROM v),
          q AS (SELECT tok,
                  CAST(floor((ln(CAST(st.denom AS DOUBLE)) - ln(CAST(freq + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS nll_e6
                FROM v, st),
          d AS (SELECT u.doc_id, count(*) AS n_tokens, sum(q.nll_e6) AS sum_nll_e6
                FROM u JOIN q USING (tok) GROUP BY u.doc_id),
          r AS (SELECT doc_id, n_tokens, sum_nll_e6,
                 CAST(row_number() OVER (ORDER BY
                   CAST(sum_nll_e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE) ASC,
                   doc_id ASC) AS BIGINT) AS rank,
                 count(*) OVER () AS n
                FROM d)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(sum_nll_e6 AS BIGINT) AS sum_nll_e6, rank,
                 CAST(floor(CAST((rank - 1) * 3 AS DOUBLE) / n) AS BIGINT) AS bucket
          FROM r ORDER BY doc_id ASC""",

    // Same vocabulary build with two conditional counts; per-vocab-
    // entry e6 quantization of the smoothed log-odds, exactly the
    // dp_lm_logprob contract.
    "dp_nb_score" ->
      s"""WITH t AS (SELECT doc_id, source, $DTOKS AS toks FROM documents),
          u AS (SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS pos,
                       unnest(toks) AS tok FROM t),
          v AS (SELECT tok, sum(pos) AS c_pos, sum(1 - pos) AS c_neg
                FROM u GROUP BY tok),
          st AS (SELECT sum(c_pos) + count(*) AS d_pos,
                        sum(c_neg) + count(*) AS d_neg FROM v),
          q AS (SELECT tok,
                  CAST(floor(((ln(CAST(c_pos + 1 AS DOUBLE)) - ln(CAST(st.d_pos AS DOUBLE)))
                            - (ln(CAST(c_neg + 1 AS DOUBLE)) - ln(CAST(st.d_neg AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS lo_e6
                FROM v, st),
          d AS (SELECT u.doc_id, count(*) AS n_tokens, sum(q.lo_e6) AS sum_logodds_e6
                FROM u JOIN q USING (tok) GROUP BY u.doc_id)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(sum_logodds_e6 AS BIGINT) AS sum_logodds_e6,
                 CAST(sum_logodds_e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_logodds_e6
          FROM d ORDER BY doc_id ASC""",

    // Curation v2 replayed stage for stage: Gopher counts (minStops=1)
    // -> char-by-char span removal among the gated docs -> md5 min-id
    // dedup on residues -> shingle-overlap decontamination (bench
    // shingles from ORIGINAL text, corpus shingles from residues) ->
    // the mix64 split-hash replay.
    "dp_curate2" -> {
      val ts = dataprep.Sampling.thresholds(dataprep.Sampling.DefaultWeights)
      val cases = ts.init.map { case (n, t) => s"WHEN h63 < $t THEN '$n'" }.mkString(" ")
      def dtoks(c: String) =
        s"""list_filter(string_split_regex(lower($c), '[^a-z0-9_*\\p{L}\\p{N}]+'), x -> x <> '')"""
      s"""WITH g0 AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words,
                   list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines,
                   CAST(len(regexp_extract_all(text, '#'))
                      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols
            FROM documents),
          g1 AS (
            SELECT doc_id, text,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS word_chars,
                   CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
                   n_symbols,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(lines, l ->
                     substring(l, 1, 1) = '-' OR substring(l, 1, 1) = '*'
                       OR substring(l, 1, 1) = '•')) AS BIGINT) AS bullet_lines,
                   CAST(len(list_filter(lines, l ->
                     l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS ellipsis_lines,
                   CAST(CAST(list_contains(words, 'the') AS INT)
                      + CAST(list_contains(words, 'be') AS INT)
                      + CAST(list_contains(words, 'to') AS INT)
                      + CAST(list_contains(words, 'of') AS INT)
                      + CAST(list_contains(words, 'and') AS INT)
                      + CAST(list_contains(words, 'that') AS INT)
                      + CAST(list_contains(words, 'have') AS INT)
                      + CAST(list_contains(words, 'with') AS INT) AS BIGINT) AS stops_present
            FROM g0),
          gd AS (
            SELECT doc_id, text FROM g1
            WHERE n_words BETWEEN 50 AND 100000
              AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
              AND 10 * n_symbols <= n_words
              AND 10 * bullet_lines < 9 * n_lines
              AND 10 * ellipsis_lines <= 3 * n_lines
              AND 5 * alpha_words >= 4 * n_words
              AND stops_present >= 1),
          p0 AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS start
                 FROM gd WHERE length(text) >= 24),
          pw AS (SELECT doc_id, start, substring(text, start, 24) AS win FROM p0),
          own AS (SELECT win, min(doc_id) AS first_id FROM pw GROUP BY win),
          cov AS (SELECT pw.doc_id, pw.start FROM pw JOIN own USING (win)
                  WHERE own.first_id < pw.doc_id),
          covpos AS (SELECT DISTINCT doc_id, start + unnest(generate_series(0, 23)) AS p FROM cov),
          chx AS (SELECT doc_id, unnest(generate_series(1, length(text))) AS p, text FROM gd),
          ch2 AS (SELECT doc_id, p, substring(text, p, 1) AS c FROM chx),
          keptc AS (SELECT ch2.doc_id, ch2.p, ch2.c FROM ch2
                    LEFT JOIN covpos v ON v.doc_id = ch2.doc_id AND v.p = ch2.p
                    WHERE v.p IS NULL),
          agg AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS clean_text
                  FROM keptc GROUP BY doc_id),
          rew AS (
            SELECT gd.doc_id, CAST(length(gd.text) AS BIGINT) AS n_chars,
                   CAST(length(gd.text) - length(coalesce(a.clean_text, '')) AS BIGINT) AS n_removed,
                   coalesce(a.clean_text, '') AS clean_text
            FROM gd LEFT JOIN agg a USING (doc_id)
            WHERE length(coalesce(a.clean_text, '')) > 0),
          dd AS (
            SELECT r.* FROM rew r
            JOIN (SELECT md5(clean_text) AS h, min(doc_id) AS kid
                  FROM rew GROUP BY 1) k ON r.doc_id = k.kid),
          bt AS (SELECT doc_id, ${dtoks("text")} AS toks FROM documents WHERE doc_id % 20 = 0),
          bsh0 AS (SELECT doc_id, $DSHINGLES AS sh FROM bt),
          bb AS (SELECT coalesce(list(DISTINCT sx), []) AS bsh
                 FROM (SELECT unnest(sh) AS sx FROM bsh0)),
          ct AS (SELECT doc_id, n_chars, n_removed, clean_text,
                        ${dtoks("clean_text")} AS toks
                 FROM dd WHERE doc_id % 20 <> 0),
          cs AS (SELECT doc_id, n_chars, n_removed, clean_text, $DSHINGLES AS sh FROM ct),
          dec AS (SELECT cs.doc_id, cs.n_chars, cs.n_removed, cs.clean_text
                  FROM cs, bb WHERE len(list_intersect(cs.sh, bb.bsh)) < 60),
          ${mix64Ctes("SELECT doc_id, n_chars, n_removed, clean_text, CAST(doc_id AS BIGINT) AS uid FROM dec")}
          SELECT doc_id, n_chars, n_removed, clean_text,
                 CASE $cases ELSE '${ts.last._1}' END AS split
          FROM mh ORDER BY doc_id"""
    },

    // Leakage-safe split: the dp_dedup_clusters closure (recursive
    // min-label reachability over the brute-force near-dup pair graph)
    // feeds the dp_split hash-range assignment, keyed by the cluster
    // representative XOR the decorrelating salt.
    "dp_split_leakage" -> {
      val ts = dataprep.Sampling.thresholds(dataprep.Sampling.DefaultWeights)
      val cases = ts.init.map { case (n, t) => s"WHEN h63 < $t THEN '$n'" }.mkString(" ")
      s"""${DSH_CTE.replaceFirst("WITH ", "WITH RECURSIVE ")},
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a, s b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.sh), len(b.sh)) * 2 >= greatest(len(a.sh), len(b.sh))
              AND len(list_intersect(a.sh, b.sh)) * 2 >=
                  len(list_distinct(list_concat(a.sh, b.sh)))),
          e AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(v, u) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
          reps AS (SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS rep_id
                   FROM reach GROUP BY v),
          ${mix64Ctes("SELECT doc_id, rep_id, " +
            s"CAST(xor(rep_id, ${dataprep.Sampling.LeakageSplitSalt}) AS BIGINT) AS uid " +
            "FROM reps")}
          SELECT doc_id, rep_id, CASE $cases ELSE '${ts.last._1}' END AS split
          FROM mh ORDER BY doc_id"""
    },
  )
}
