package graft.dataprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistics and relevance ranking over the documents
  * table: n-gram vocabulary frequencies and BM25-style scoring. Both
  * are beyond-reference operators a training-data pipeline needs
  * (vocabulary audits, near-duplicate boilerplate detection, relevance
  * sampling of a corpus against probe queries).
  */
object CorpusStats {

  /** Top-k word n-grams by corpus frequency (count desc, n-gram asc —
    * a total order, so the limit is deterministic).
    *
    * Scale: explode → partial+final hash aggregation — the map-side
    * combine collapses each task's n-grams before the single shuffle,
    * and the top-k is a TakeOrderedAndProject (no global sort).
    */
  def ngramFreq(df: DataFrame, textCol: String, n: Int, topK: Int): DataFrame = {
    require(n >= 1 && topK >= 1, "n and topK must be positive")
    // Tokenize into a projection FIRST: higher-order-function lambdas
    // evaluate captured child expressions per array element, so a
    // lambda over the raw tokenizer expression would re-tokenize the
    // document once per gram — O(tokens²) per doc. Captured as a bound
    // attribute the per-element access is O(1).
    val withToks = df.select(TextPrep.tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    // n-grams with multiplicity, positions 1 .. len-n+1, built only at
    // valid positions (guarded sequence) — no null slots to filter out
    // and no per-gram re-tokenization to validate arity
    val grams =
      if (n == 1) toks
      else when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    withToks.select(explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(topK)
  }

  /** Token-rarity signal for corpus curation: per document, the mean
    * corpus frequency of its tokens (with multiplicity). Documents
    * dominated by rare tokens (low mean_freq) are gibberish/noise
    * candidates; boilerplate-dominated ones score very high. The
    * complement of [[bm25Rank]]'s idf, as a per-document statistic.
    *
    * Arithmetic: integer token counts, one BIGINT sum per doc, one
    * IEEE division — bit-stable across engines.
    *
    * Scale: pass 1 builds the vocabulary (explode → map-side-combined
    * count per token: output is vocabulary-sized, Zipf-bounded, far
    * smaller than the corpus); pass 2 re-explodes and joins tokens to
    * it — vocabulary-sized build side, so AQE broadcasts it while it
    * fits and falls back to a token-partitioned shuffle join beyond
    * that — then one groupBy(doc) to re-reduce. No driver-side state.
    */
  def rarityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withToks = df.select(col(idCol), TextPrep.tokens(col(textCol)).as("__toks"))
    val tokens = withToks.select(col(idCol), explode(col("__toks")).as("tok"))
    val vocab = tokens.groupBy("tok").agg(count(lit(1)).as("freq"))
    tokens.join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("sum_freq"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col(idCol).asc)
  }

  /** Self-trained unigram language-model surprisal per document — the
    * CCNet-style "perplexity filter" signal, with the corpus itself as
    * the training text (no external model artifact). Per token w, with
    * Laplace smoothing over corpus counts c(w), N total tokens and V
    * distinct tokens:
    *
    *   nll(w) = -ln p(w) = ln(N + V) - ln(c(w) + 1)
    *
    * and a document's score is the mean nll over its tokens (with
    * multiplicity). Low mean = head (fluent, common language), high
    * mean = tail (gibberish, boilerplate-free rare text) — threshold
    * or tertile downstream with a plain filter.
    *
    * Cross-engine determinism: nll is quantized to integer micro-nats
    * PER DISTINCT VOCAB ENTRY — floor(x*1e6 + 0.5), pure IEEE ops, no
    * decimal detour — so per-doc sums are exact integer arithmetic and
    * a 1-ulp libm disagreement on ln cannot accumulate; it could only
    * flip a value sitting within ~4e-9 of a quantization boundary
    * (probability ~1e-8 per vocab entry). The mean is one IEEE
    * division of exact integers.
    *
    * Scale: same two-pass shape as [[rarityScore]] — vocabulary build
    * is a map-side-combined count (Zipf-bounded output), the stats row
    * (N, V) is ONE driver-collected row inlined as a literal, and the
    * token→vocab join is AQE-broadcast while the vocabulary fits,
    * token-partitioned shuffle beyond. No driver-side state grows with
    * the corpus.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol), explode(TextPrep.tokens(col(textCol))).as("tok"))
    val vocab = tokens.groupBy("tok").agg(count(lit(1)).as("freq"))
    val stats = vocab.agg(sum("freq"), count(lit(1))).head()
    val denomLn = math.log((stats.getLong(0) + stats.getLong(1)).toDouble)
    val scored = vocab.withColumn("nll_e6",
      floor((lit(denomLn) - log(col("freq").cast("double") + 1d)) * 1e6 + 0.5).cast("long"))
    tokens.join(scored, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("nll_e6").as("sum_nll_e6"))
      .withColumn("mean_nll_e6",
        col("sum_nll_e6").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col(idCol).asc)
  }

  /** Self-trained naive-Bayes document scorer — the in-corpus moral
    * equivalent of the fasttext-style "quality classifier" used to
    * select wiki/reference-like documents from a web crawl: train
    * per-token log-odds of a TARGET CLASS (rows where `labelCol` =
    * `positiveLabel`) against everything else, then score every doc by
    * the sum of its tokens' log-odds. With Laplace smoothing, token w
    * contributes
    *
    *   λ(w) = ln((c_pos(w)+1)/(N_pos+V)) − ln((c_neg(w)+1)/(N_neg+V))
    *
    * (class-prior term omitted: it is a per-doc-constant offset that
    * does not change ranking, and leaving it out keeps the score a
    * pure token signal). Positive sums read "looks like the target
    * source"; threshold or top-fraction downstream.
    *
    * Determinism: λ is quantized to integer micro-nats PER VOCAB ENTRY
    * (floor(x*1e6+0.5)) before the per-doc integer sum — same contract
    * as [[unigramLogProb]], so a last-ulp libm difference on ln cannot
    * accumulate. Mean is one IEEE division of exact integers.
    *
    * Scale: one vocabulary build with two conditional counts (map-side
    * combined, Zipf-bounded output), ONE driver-collected stats row
    * inlined as literals, one token→vocab join (AQE-broadcast while
    * the vocabulary fits), one groupBy(doc). Training and inference
    * share the single corpus scan lineage — no model artifact, no
    * driver state proportional to data.
    */
  def naiveBayesScore(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, positiveLabel: String): DataFrame = {
    val tokens = df.select(col(idCol),
        (col(labelCol) === positiveLabel).cast("long").as("pos"),
        explode(TextPrep.tokens(col(textCol))).as("tok"))
    val vocab = tokens.groupBy("tok").agg(
      sum(col("pos")).as("c_pos"),
      sum(lit(1L) - col("pos")).as("c_neg"))
    val stats = vocab.agg(sum("c_pos"), sum("c_neg"), count(lit(1))).head()
    val (nPos, nNeg, v) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val (lnPos, lnNeg) = (math.log((nPos + v).toDouble), math.log((nNeg + v).toDouble))
    val scored = vocab.withColumn("lo_e6",
      floor(((log(col("c_pos").cast("double") + 1d) - lit(lnPos))
           - (log(col("c_neg").cast("double") + 1d) - lit(lnNeg))) * 1e6 + 0.5)
        .cast("long"))
    tokens.join(scored, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("lo_e6").as("sum_logodds_e6"))
      .withColumn("mean_logodds_e6",
        col("sum_logodds_e6").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col(idCol).asc)
  }

  /** BM25-style relevance of every document against a bag of query
    * terms, top-k by score.
    *
    * Formula: per term t,
    *   idf(t)  = (N - df_t + 0.5) / (df_t + 0.5)
    *   s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    * summed over terms in the fixed given order. This is BM25 with the
    * textbook `ln(1 + idf)` replaced by the raw Robertson idf ratio —
    * deliberately: the ratio is a rational function of integer corpus
    * counts, so two engines computing it with IEEE doubles agree bit
    * for bit, while `ln` may differ in the last ulp between libms.
    * Ranking behavior is the same shape (rare terms weigh more).
    *
    * Scale: corpus stats (N, Σdl, df per term) reduce to ONE tiny
    * aggregate row collected to the driver and inlined as literals —
    * the scoring pass is then a narrow map over the scan followed by a
    * top-k. No joins, no second shuffle.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val toks = TextPrep.tokens(col(textCol))
    val withToks = df.select(col(idCol), toks.as("__toks"),
      size(toks).cast("long").as("__dl"))

    // one aggregate pass: N, total length, per-term document frequency
    val aggs = Seq(count(lit(1)).as("n"), sum(col("__dl")).as("sumdl")) ++
      terms.map(t =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L)).as(s"df_$t"))
    val statsRow = withToks.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nDocs = statsRow.getLong(0)
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    require(nDocs > 0, "empty corpus")
    val avgdl = sumDl.toDouble / nDocs.toDouble

    val score = terms.zipWithIndex.map { case (t, i) =>
      val dfT = statsRow.getLong(2 + i)
      val idf = (nDocs - dfT + 0.5) / (dfT + 0.5)
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      tf * lit(idf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / lit(avgdl)))
    }.reduce(_ + _)

    withToks
      .select(col(idCol), col("__dl").as("dl"), score.as("score"))
      .where(col("score") > 0d)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Cross-document duplicate n-gram fraction (the RefinedWeb /
    * Gopher-style repetition family's corpus-level member): per
    * document, the share of its n-gram OCCURRENCES whose n-gram also
    * appears in at least `minDf` distinct documents. High values flag
    * boilerplate and template spam that exact/near dedup misses
    * because the documents differ globally while sharing most local
    * word sequences. Complements [[TextAnalysis.repetitionStats]]
    * (within-doc repetition) with the cross-doc signal.
    *
    * Documents with fewer than n tokens have no n-grams and drop out.
    * `dup_frac` is one IEEE division of two exact integers —
    * engine-portable.
    *
    * Scale: occurrences explode once; document frequency is a
    * map-side-combined two-phase aggregate on the gram key; the join
    * back is gram-partitioned on BOTH sides (the groupBy's exchange is
    * reused, no extra shuffle beyond the unavoidable gram shuffle),
    * then one groupBy(doc) re-reduces. Zipf bounds the vocabulary side;
    * no driver-side state.
    */
  def dupNgramFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Int = 2): DataFrame = {
    require(n >= 1 && minDf >= 1, "n and minDf must be positive")
    // bound-attribute capture, same O(tokens) rationale as ngramFreq
    val withToks = df.select(col(idCol), TextPrep.tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    val grams =
      if (n == 1) toks
      else when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    val occ = withToks.select(col(idCol), explode(grams).as("g"))
    val dfreq = occ.groupBy("g").agg(count_distinct(col(idCol)).as("df"))
    occ.join(dfreq, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
      .orderBy(col(idCol).asc)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: split the
    * corpus into head/middle/tail by LM perplexity; the head trains,
    * the tail gets filtered or down-weighted). Documents are ranked by
    * [[unigramLogProb]]'s mean negative log-likelihood (ascending —
    * most predictable first) with doc id as the total-order tie-break,
    * then assigned `bucket = floor((rank-1)·nBuckets / N)` — exact
    * equal-frequency buckets, no percentile estimation.
    *
    * Scale: the rank is NOT a global window — it rides
    * [[Packing.withCum]]'s two-phase distributed prefix scan (unit
    * sizes), so bucketing a 100 TB corpus costs one range exchange
    * like every other packing op. N comes from one count job at plan
    * construction (the [[Dedup.embeddingNearDupPairs]] precedent).
    * Output: (idCol, n_tokens, sum_nll_e6, rank, bucket), ordered.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // The LM frame has joins underneath, so the prefix scan must run
    // in MATERIALIZED mode — without it the two withCum branches
    // instantiate independent range exchanges whose samplers (seeded
    // by RDD id) pick different boundaries, stitching a corrupt rank
    // (duplicates + gaps; found by the sf0.1 rehearsal, invisible at
    // gate SF and at small parallelism).
    val lm = unigramLogProb(df, idCol, textCol).localCheckpoint(true)
    val n = lm.count()
    // empty corpus: 0/0 below would NaN every bucket — return the
    // (empty) frame with the contract schema instead
    if (n == 0)
      return lm.select(col(idCol), col("n_tokens"), col("sum_nll_e6"),
        lit(0L).as("rank"), lit(0L).as("bucket"))
    Packing.withCum(lm.withColumn("__one", lit(1L)),
        Seq(col("mean_nll_e6").asc, col(idCol).asc), "__one",
        materialize = true)
      .withColumn("rank", col("cum"))
      .select(col(idCol), col("n_tokens"), col("sum_nll_e6"), col("rank"),
        expr(s"CAST(floor(CAST((rank - 1) * $nBuckets AS DOUBLE) / $n) AS BIGINT)")
          .as("bucket"))
      .orderBy(col(idCol).asc)
  }

  // ---- BPE tokenizer training (byte-pair encoding, Sennrich et al.
  //      2016 — the standard subword tokenizer learner) ----

  /** Adjacent unit pairs of a unit array (empty below 2 units). */
  private def unitPairs(u: Column): Column =
    when(size(u) < 2, array().cast("array<struct<l:string,r:string>>"))
      .otherwise(transform(sequence(lit(1), size(u) - 1),
        i => struct(element_at(u, i).as("l"), element_at(u, i + 1).as("r"))))

  /** Greedy left-to-right application of ONE merge (l, r) -> l+r over
    * a unit array: scan left to right, and whenever the accumulated
    * last unit equals `l` and the next unit equals `r`, fuse them.
    * The exact fold BPE specifies; an array-accumulator HOF, so the
    * whole rewrite stays per-row.
    */
  private def mergeFold(u: Column, l: String, r: String): Column =
    aggregate(u, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Characters of a word as the initial unit array. */
  private def charUnits(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Train `nMerges` BPE merges over the corpus: word-internal
    * character merges, each round picking the globally most frequent
    * adjacent unit pair weighted by word frequency (ties broken by
    * (left, right) ascending — binary string order on both engines,
    * so the whole training run replays bit-for-bit in SQL).
    *
    * Scale: the corpus is touched ONCE (word count); every merge
    * round then runs on the DISTINCT-WORD table — one explode +
    * partial-aggregated pair count + a per-row fold, vocab-bounded
    * exactly like the reference single-node BPE trainers that operate
    * on word-count dictionaries, but with the pair counting and
    * rewriting distributed. The driver holds one (l, r) pair per
    * round, the same coordination footprint as Lloyd iterations in
    * [[graft.dataprep.Similarity]]'s k-means. Each round's unit table
    * is persisted and the previous round's unpersisted, keeping plan
    * depth constant across rounds.
    */
  def bpeTrainMerges(df: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges > 0, "nMerges must be positive")
    val words = df
      .select(explode(TextPrep.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var units = words.withColumn("u", charUnits(col("w"))).persist()
    units.count()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    for (_ <- 1 to nMerges if !exhausted) {
      val best = units
        .select(col("cnt"), explode(unitPairs(col("u"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += ((l, r))
        val prev = units
        units = prev.withColumn("u", mergeFold(col("u"), l, r)).persist()
        units.count()
        prev.unpersist()
        ()
      }
    }
    units.unpersist()
    merges.toSeq
  }

  /** Apply a ranked merge list to the corpus: every word's char units
    * are folded through the merges in rank order (the BPE apply rule).
    * Output per doc: n_words, n_units (total subword count — the
    * quantity a token-budget pipeline bills), and units_md5 (digest of
    * the full segmentation in document order — the oracle-checkable
    * witness that every unit boundary matches).
    */
  private def foldAllMerges(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(charUnits(w))((u, m) => mergeFold(u, m._1, m._2))

  /** Frequency-ranked subword vocabulary after applying the merges:
    * (id, unit, n) with id = row number by (n DESC, unit ASC). The
    * ranking window is global but runs over the unit vocabulary — a
    * KB-scale frame like the BM25 stats row, not the corpus.
    */
  def bpeVocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df
      .select(explode(TextPrep.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val units = words
      .select(col("cnt"), explode(foldAllMerges(col("w"), merges)).as("unit"))
      .groupBy(col("unit")).agg(sum(col("cnt")).as("n"))
    // unit vocabulary is KB-scale (see scaladoc); constant partition
    // key keeps the single-partition plan but silences the warning
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("n").desc, col("unit").asc)
    units.withColumn("id", row_number().over(wRank).cast("long"))
      .select(col("id"), col("unit"), col("n"))
      .orderBy(col("id"))
  }

  /** Encode the corpus as subword-id sequences: every word folded
    * through the merges, every unit mapped to its [[bpeVocab]] id,
    * in document order. Output per doc: n_units and ids_md5 (digest
    * of the comma-joined id sequence — the witness that every id at
    * every position matches). The id join is a plain equi-join on the
    * unit string; order is restored per doc from (word pos, unit pos).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = bpeVocab(df, textCol, merges).select(col("unit"), col("id"))
    // fold once per DISTINCT word, join occurrences back (see
    // [[bpeApply]] for why: the merge fold is the expensive
    // expression, and word occurrences repeat Zipf-style)
    val occ = df
      .withColumn("__toks", TextPrep.tokens(col(textCol)))
      .select(col(idCol), posexplode(col("__toks")))
      .withColumnRenamed("pos", "wpos")
      .withColumnRenamed("col", "__w")
    // unit → id is ALSO resolved per distinct word: exploding units at
    // occurrence scale and joining the vocabulary there put the join +
    // per-unit collect on the corpus's unit count (r14 honest measure:
    // 19 s at sf0.1 once the bench consumer stopped column-pruning the
    // fold away). The vocabulary-bounded form pre-renders each word's
    // id sequence as a "i1,i2,..." string; the per-doc hash then
    // concatenates word-level strings in word order — bit-identical to
    // the per-unit formulation (the oracle replays the same bytes).
    val wordIds = occ.select(col("__w")).distinct()
      .select(col("__w"), posexplode(foldAllMerges(col("__w"), merges)))
      .withColumnRenamed("pos", "upos")
      .withColumnRenamed("col", "unit")
      .join(vocab, Seq("unit"))
      .groupBy(col("__w"))
      .agg(
        count(lit(1)).as("__nu"),
        array_join(
          transform(array_sort(collect_list(struct(col("upos"), col("id")))),
            s => s.getField("id").cast("string")),
          ",").as("__idstr"))
    val encoded = occ.join(wordIds, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__nu")).as("n_units"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("wpos"), col("__idstr")))),
            s => s.getField("__idstr")),
          ",")).as("ids_md5"))
    df.select(col(idCol)).join(encoded, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("ids_md5"), md5(lit(""))).as("ids_md5"))
      .orderBy(col(idCol).asc)
  }

  /** Apply the merges to the whole corpus. The fold runs once per
    * DISTINCT word, not per occurrence: |merges| array-fold passes per
    * word is the expensive expression here, and corpus occurrences
    * repeat Zipf-style, so the per-occurrence formulation burned
    * |merges|·occurrences fold passes where vocabulary·|merges|
    * suffices (this very query: 8.2 s → sub-second at sf0.1 — exposed
    * in r9 when withCum's safety checkpoint started materializing ALL
    * columns; the old bench action had silently column-pruned the fold
    * away). The trade is one extra exchange pair (distinct + the
    * occurrence join-back, which AQE broadcasts while the folded
    * vocabulary fits) — the same shape every token-level stat here
    * already uses ([[rarityScore]], [[unigramLogProb]], [[bpeVocab]]),
    * so at 100 TB the plan stays vocabulary-bounded instead of
    * occurrence-bounded on its hot expression. Per-doc order is
    * restored from word position before hashing.
    */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = df.select(col(idCol), TextPrep.tokens(col(textCol)).as("__toks"))
    val occ = toks.select(col(idCol), posexplode(col("__toks")))
      .withColumnRenamed("pos", "__wpos")
      .withColumnRenamed("col", "__w")
    val wordUnits = occ.select(col("__w")).distinct()
      .withColumn("__u", foldAllMerges(col("__w"), merges))
      .select(col("__w"),
        array_join(col("__u"), " ").as("__ustr"),
        size(col("__u")).cast("long").as("__nu"))
    val perDoc = occ.join(wordUnits, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__nu")).as("__n_units"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("__wpos"), col("__ustr")))),
            s => s.getField("__ustr")),
          "|")).as("__md5"))
    toks.select(col(idCol), size(col("__toks")).cast("long").as("n_words"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("n_words"),
        coalesce(col("__n_units"), lit(0L)).as("n_units"),
        coalesce(col("__md5"), md5(lit(""))).as("units_md5"))
      .orderBy(col(idCol).asc)
  }
}
