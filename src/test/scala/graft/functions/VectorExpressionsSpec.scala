package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dataprep.Similarity
import graft.engine.{AggRequest, AggFunc, SearchRequest, SeqEngine}
import graft.tables.TestTables

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native dot product is bit-identical to the ordered fold") {
    val emb = TestTables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.where(col("vec_id") === 0).select(col("v").as("q"))
    val both = emb.crossJoin(q)
      .select(
        Similarity.dot(col("q"), col("v")).as("native"),
        ReferenceForms.dotFold(col("q"), col("v")).as("fold"))
      .where(col("native") =!= col("fold"))
    assert(both.count() == 0)
  }

  test("sorted intersect count equals array_intersect size") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(4L), Seq(4L)),
    ).toDF("a", "b")
    val rows = df.select(
      VectorExpressions.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("minhash signature: deterministic, bounded, sensitive to content") {
    val df = Seq(Seq(10L, 20L, 30L), Seq(10L, 20L, 30L), Seq(99L)).toDF("h")
    val sigs = df.select(VectorExpressions.minhashSignature(col("h"), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))            // deterministic
    assert(sigs(0) != sigs(2))            // content-sensitive
    assert(sigs(0).length == 16)
    assert(sigs(0).forall(v => v >= 0 && v < 2147483647L))
  }

  test("simhash: identical inputs agree, near inputs have low hamming") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "completely unrelated words appear here instead",
    ).toDF("text")
    val hs = df.select(graft.dataprep.Dedup.simhash64(
        graft.dataprep.TextPrep.tokens(col("text"))).as("s"))
      .collect().map(_.getLong(0))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0), hs(1)) < hamming(hs(0), hs(2)))
  }

  test("nfcFold: NFC + simple lowercase, matching utf8proc known vectors") {
    // expected values produced by DuckDB lower(nfc_normalize(x)) —
    // note ΟΔΟΣ keeps the NON-final sigma (simple mapping, no context),
    // İ maps 1:1 to i, ß stays, the decomposed e+◌́ precomposes
    val df = Seq("ΟΔΟΣ", "İstanbul", "STRASSE \u00df", "e\u0301cole", "\u01c5ungla").toDF("t")
    val got = df.select(VectorExpressions.nfcFold(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("οδοσ", "istanbul", "strasse \u00df", "\u00e9cole", "\u01c6ungla"))
  }

  test("portable simhash matches cross-engine known vectors") {
    // the same vectors are produced by the DuckDB oracle formulation
    // (poly-31 code-point hash + per-bit affine mix, see PortableSimHash)
    val df = Seq(
      Seq("the", "quick", "brown", "fox"),
      Seq("héllo", "中文", "a1_b"),
      Seq.empty[String],
      Seq("zzz")).toDF("toks")
    val got = df.select(VectorExpressions.simhashPortable64(col("toks")).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3465703297728465970L, -1111096084529543763L, 0L, -7378697629483820647L))
  }

  test("bigram-hash kernel matches sort(distinct(hash(HOF shingles)))") {
    val docs = TestTables.documents(spark, "/root/testdata/sf0.01")
    val toks = graft.dataprep.TextPrep.tokens(col("text"))
    val diff = docs.select(
        TokenizeExpr.bigramHashes(toks).as("fast"),
        array_sort(array_distinct(transform(
          graft.dataprep.TextPrep.bigramShingles(toks), s => xxhash64(s)))).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
  }

  test("native LSH buckets are bit-identical to the HOF formulation") {
    val emb = TestTables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("embedding").cast("array<double>").as("v"))
    val diff = emb.select(
        Similarity.lshBuckets(col("v"), 12).as("fast"),
        ReferenceForms.lshBucketsHof(col("v"), 12).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
  }

  test("native tokenizer matches the regex formulation on real data") {
    val docs = TestTables.documents(spark, "/root/testdata/sf0.01")
    val diff = docs.select(
        Tokenizers.textTokens(col("text"), caseSensitive = false).as("fast"),
        ReferenceForms.textTokensRegex(col("text"), caseSensitive = false).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
    // edge cases: unicode, punctuation runs, empty, star/underscore
    val edge = Seq("Héllo,  Wörld!! x_y*z 42", "中文 test", "", "  ", "___", "a..b").toDF("t")
    val rows = edge.select(
      Tokenizers.textTokens(col("t"), caseSensitive = false).as("fast"),
      ReferenceForms.textTokensRegex(col("t"), caseSensitive = false).as("ref")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
  }

  test("complexSearch: hits, total, aggs, histogram from one match set") {
    val eng = new SeqEngine(TestTables.eventsDocs(spark, sfDir))
    val res = eng.complexSearch(
      SearchRequest("event_type:error", 1704067200000L, 1706745599999L, size = 10),
      aggs = Seq(AggRequest(AggFunc.Count, groupBy = Some("event_type"))),
      histIntervalMs = 86400000L,
      withTotal = true)
    try {
      assert(res.hits.count() == 10)
      assert(res.total.exists(_ > 10))
      val aggRows = res.aggs.head.collect()
      assert(aggRows.length == 1 && aggRows(0).getString(0) == "error")
      assert(aggRows(0).getLong(1) == res.total.get)
      assert(res.histogram.get.agg(sum("cnt")).collect()(0).getLong(0) == res.total.get)
    } finally res.unpersist()
  }
}
