package graft.dataprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float|Double]).
  * Brute-force cosine/dot top-k as the exact baseline; deterministic
  * random-hyperplane LSH bucketing as the scale path (probe only
  * matching buckets instead of the full corpus).
  */
object Similarity {

  /** Dot product via a native codegen expression (tight primitive loop,
    * no intermediate array per pair — graft.functions.DotProductExpr).
    * Accumulates left-to-right, bit-identical to an ordered fold /
    * DuckDB's list_dot_product. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by dot product for the given query ids: broadcast the
    * queries, score the whole corpus once, rank per query. One shuffle
    * (the per-query window sort); the scoring itself is map-side.
    * Output: query_id, neighbor_id, rank (1-based), dot_e6.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame =
    filteredTopK(df, idCol, vecCol, queryIds, k, lit(true))

  /** MMR (maximal marginal relevance) diversity re-rank: greedily pick
    * k results balancing relevance to the query against redundancy
    * with what is already picked —
    *
    *   pick_n = argmax_i [ rel_i * λden − λnum * max_{j∈picked} dot(i,j) ]
    *
    * (λ = λnum/λden kept as an exact rational; the scaled objective
    * avoids a division whose rounding could diverge across engines.
    * Ties break by smaller id; the first pick has no redundancy term.)
    * The classic fix for near-duplicate-saturated neighbor lists —
    * retrieval that [[hybridRrf]] fuses, this diversifies.
    *
    * Scale split: the candidate POOL (top `poolSize` by relevance) is
    * selected distributed — scoring is map-side over the corpus, the
    * pool a TakeOrdered — and only those `poolSize` rows (KB-sized,
    * like the BM25 stats row or the IVF centroid set) are collected
    * for the O(k·pool) greedy, which is inherently sequential: each
    * pick changes the next objective. At 100 TB the corpus pass is the
    * cost; the driver step is constant.
    *
    * Determinism: the pool's relevances come from the same codegen dot
    * kernel as [[bruteForceTopK]]; driver-side pair dots accumulate
    * left-to-right exactly like the kernel and DuckDB's
    * list_dot_product, and the objective's IEEE op order
    * (rel*λden − λnum*maxsim) is mirrored by the oracle.
    *
    * Output: rank (1-based pick order), vec_id, mmr_scaled_e6
    * (floor(objective*1e6+0.5) of the SCALED objective).
    */
  def mmrTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      poolSize: Int, k: Int, lambdaNum: Long, lambdaDen: Long): DataFrame = {
    require(k > 0 && poolSize >= k, "need 0 < k <= poolSize")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a fraction in [0, 1]")
    val spark = df.sparkSession
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("q"))
    val pool = df.where(col(idCol) =!= queryId)
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(q))
      .withColumn("rel", dot(col("q"), col("v")))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(poolSize)
      .select("id", "v", "rel")
      .collect()
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val cands = scala.collection.mutable.ArrayBuffer(pool.map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))): _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var rank = 1L
    while (rank <= k && cands.nonEmpty) {
      var bi = -1; var bm = Double.NegativeInfinity; var bid = Long.MaxValue
      var i = 0
      while (i < cands.length) {
        val (id, v, rel) = cands(i)
        var maxsim = 0.0
        var j = 0
        while (j < picked.length) {
          val s = ddot(v, picked(j)._2); if (j == 0 || s > maxsim) maxsim = s; j += 1
        }
        val m = rel * lambdaDen - lambdaNum * maxsim
        if (m > bm || (m == bm && id < bid)) { bi = i; bm = m; bid = id }
        i += 1
      }
      val (id, v, _) = cands(bi)
      out += ((rank, id, math.floor(bm * 1e6 + 0.5).toLong))
      picked += ((id, v))
      cands.remove(bi)
      rank += 1
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "vec_id", "mmr_scaled_e6").orderBy("rank")
  }

  /** Filtered (hybrid) vector search: brute-force top-k restricted to
    * corpus rows satisfying `pred` — metadata filter + similarity in
    * one plan. The predicate applies BEFORE ranking (pre-filtering),
    * so every query returns k true survivors instead of post-filtering
    * holes, and it pushes down to the scan: at 100 TB the filter
    * prunes row groups before a single dot product runs. Queries are
    * looked up in the UNFILTERED table (a query vector need not
    * itself satisfy the predicate).
    */
  def filteredTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, pred: Column): DataFrame = {
    val corpus = df.where(pred)
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("v"))
    val queries = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most similar corpus vectors carrying a DIFFERENT
    * label — the negatives that sit closest to the decision boundary,
    * which is what embedding-model training loops mine after each
    * epoch. Unlike [[filteredTopK]]'s static corpus predicate, the
    * exclusion here is PER QUERY (each query rejects its own label),
    * expressed as a join condition so Catalyst still plans a broadcast
    * of the tiny query side and the corpus pass stays map-side; the
    * ranked window is the same TakeOrdered shape as every other top-k
    * here. Output: query_id, neighbor_id, neg_label, rank, dot_e6.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = df.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neg_label"), col(vecCol).cast("array<double>").as("v"))
    val queries = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
        col(vecCol).cast("array<double>").as("q"))
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id") &&
          col("neg_label") =!= col("q_label"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("neg_label").cast("long").as("neg_label"),
        col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Triplet mining — [[hardNegatives]] completed into the full
    * contrastive-training tuple: for each anchor, the POSITIVE is its
    * most similar same-label vector (excluding itself) and the
    * negatives are the k most similar different-label vectors, so
    * each row (anchor, positive, negative@rank) is ready for a
    * triplet/InfoNCE loss. Anchors with no same-label partner drop
    * out (no positive exists — declared).
    *
    * One corpus pass scores everything against the broadcast anchor
    * set; the positive and negative sides are two ranked windows over
    * that shared scan, split by the label predicate. Both joins are
    * broadcast/hash — deterministic partitioning, no range sampling
    * anywhere.
    */
  def tripletMine(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = df.select(col(idCol).as("nid"),
      col(labelCol).as("nlabel"), col(vecCol).cast("array<double>").as("v"))
    val queries = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(labelCol).as("qlabel"),
        col(vecCol).cast("array<double>").as("q"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("nid"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("nid").asc)
    val pos = scored.where(col("nlabel") === col("qlabel"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("query_id"), col("nid").as("pos_id"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("pos_dot_e6"))
    val neg = scored.where(col("nlabel") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("nid").as("neg_id"),
        col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("neg_dot_e6"))
    neg.join(pos, Seq("query_id"))
      .select(col("query_id"), col("pos_id"), col("pos_dot_e6"),
        col("neg_id"), col("rank"), col("neg_dot_e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Random-hyperplane LSH bucket id: `nBits` sign bits of projections
    * onto deterministic hyperplanes (native kernel with plane cache —
    * graft.functions.LshBucketsExpr). Vectors in the same bucket are
    * near-collinear with high probability. */
  def lshBuckets(vec: Column, nBits: Int): Column =
    graft.functions.VectorExpressions.lshBuckets(vec, nBits)
  /** Map-side argmin over DRIVER-HELD centroids: the centroid table is
    * KBs (nCells × dim doubles), so it rides along as one codegen
    * reference object (graft.functions.NearestCellsExpr) and cell
    * assignment is a pure projection — no join, no window, no shuffle,
    * and (unlike unrolled per-component literals) the generated code is
    * identical across Lloyd iterations, so repeated assignments reuse
    * the compiled class instead of paying codegen per step.
    * This is the shape IVF takes at corpus scale: the index metadata
    * lives with the planner, the data never moves for assignment.
    *
    * Sort key per cell: |v−c|² = |v|² − 2v·c + |c|² with the constant
    * |v|² dropped (a plain −dot would bias toward large-norm centroids
    * once Lloyd means shrink below unit norm); ties break (dist asc,
    * cell asc) like the reference ordering. |c|² is an ordered fold —
    * the oracle recomputes it with the same op order.
    */
  private def nearestCells(v: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    graft.functions.VectorExpressions.nearestCells(v, centroids)

  /** (id, v, cell) via nearest-cell argmin. */
  private def assignCells(points: DataFrame, centroids: Seq[(Long, Seq[Double])]): DataFrame =
    points.select(col("neighbor_id"), col("v"),
      nearestCells(col("v"), centroids).getItem(0).as("cell"))

  /** Deterministic k-means training for IVF: seed centroids are the
    * `nCells` lowest-id vectors, then `iters` Lloyd steps driven from
    * the driver (one tiny collect per step — standard k-means shape).
    * Each new centroid component is an EXACT integer mean: components
    * quantize to e6 fixed-point, integer-sum per (cell, dim) — an
    * associative, commutative reduction, so the result is identical
    * for any partitioning or merge order (a float mean would depend on
    * both) — then one double division. Cells that lose all members
    * drop out (matching a verification oracle that mirrors the same
    * arithmetic).
    */
  /** `points` must have columns (neighbor_id, v: array<double>) — the
    * same shape [[assignCells]] consumes. */
  def trainIvfCentroids(points: DataFrame, nCells: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    var cent: Seq[(Long, Seq[Double])] = points.orderBy(col("neighbor_id").asc).limit(nCells)
      .select(col("neighbor_id").as("cell"), col("v").as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    for (_ <- 1 to iters) {
      // One shuffle per Lloyd step: partial-aggregated integer sums per
      // (cell, dim). The nCells × dim result rows are pivoted back into
      // centroid vectors on the driver — that table is KBs, so a second
      // groupBy(cell) exchange + collect_list would cost a whole extra
      // stage to assemble what a local groupBy does for free.
      val rows = assignCells(points, cent)
        .select(col("cell"), posexplode(col("v")))
        .withColumn("xi", expr("CAST(floor(col * 1000000 + 0.5) AS BIGINT)"))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
        .collect()
      cent = rows.groupBy(_.getLong(0)).toSeq.map { case (cell, rs) =>
        val cv = rs.sortBy(_.getInt(1)).map(r =>
          // same IEEE ops as the previous in-plan cast/divide chain
          r.getLong(2).toDouble / (r.getLong(3).toDouble * 1000000.0)).toSeq
        (cell, cv)
      }.sortBy(_._1)
    }
    cent
  }

  /** Distributed Lloyd k-means on an e6 integer lattice — the general
    * form of the IVF cell trainer, exposed as a first-class operator
    * (embedding clustering is the standard pre-step for cluster-
    * balanced sampling and SemDeDup-style curation at corpus scale).
    *
    * Determinism by construction: inputs are quantized ONCE to e6
    * fixed point; distances are integer squared-L2 sums; the centroid
    * update is floor(sum/n) on integer sums (exact — |sum| stays far
    * below 2^53, see bound note below). Every reduction is therefore
    * associative and partitioning-independent, so any engine
    * replaying the same arithmetic (the DuckDB oracle does) produces
    * the identical assignment — no float-mean order sensitivity.
    *
    * Scale shape: the argmin pass ships the k×d centroid table as
    * plan literals — each iteration is a NARROW map over the points
    * (no shuffle, no join); the only exchange per iteration is the
    * k×d-row partial-aggregated centroid update, collected to the
    * driver (KBs — same pattern as [[trainIvfCentroids]], which is
    * the Spark analogue of a parameter-server sync). `iters`
    * assignment passes run in total, with an update between
    * consecutive passes; the seed is the k smallest ids' vectors
    * (cell j = rank j in that id order).
    *
    * Magnitude bound: floor(sum/n) goes through one double division;
    * it is exact while |sum| < 2^53, i.e. for corpora up to ~2^53/
    * (|v|·1e6) ≈ 10^9 unit-scale vectors per cell — beyond that,
    * switch the mean to BigDecimal without changing the contract.
    *
    * Output: (id, cell, dist) — dist in e12 units, ordered by id.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val pts = df.select(col(idCol).as("id"),
      expr(s"transform(CAST($vecCol AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))")
        .as("v"))
    // the seed collect and every centroid sync are separate ACTIONS on
    // pts — cache it for the training jobs and release it before
    // returning, so training scans the source once (not iters+1
    // times) and nothing leaks: the returned frame recomputes pts
    // from source exactly once when the caller materializes it
    pts.persist()
    var cent: IndexedSeq[Seq[Long]] = pts.orderBy(col("id").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toIndexedSeq
      .sortBy(_._1).map(_._2)
    def assigned(c: IndexedSeq[Seq[Long]]): DataFrame = {
      val dists = array(c.map(cv =>
        aggregate(zip_with(col("v"), lit(cv.toArray), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)): _*)
      // array_position finds the FIRST occurrence of the min, so ties
      // break to the lowest cell index on both engines
      pts.withColumn("dists", dists)
        .withColumn("dist", array_min(col("dists")))
        .withColumn("cell", expr("CAST(array_position(dists, dist) - 1 AS BIGINT)"))
    }
    var a = assigned(cent)
    for (_ <- 2 to iters) {
      val rows = a.select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val updated = rows.groupBy(_.getLong(0)).map { case (cell, rs) =>
        cell.toInt -> rs.sortBy(_.getInt(1))
          .map(r => math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong).toSeq
      }
      // a cell that lost all members keeps its previous centroid
      cent = cent.indices.map(i => updated.getOrElse(i, cent(i)))
      a = assigned(cent)
    }
    pts.unpersist()
    a.select(col("id"), col("cell"), col("dist")).orderBy(col("id").asc)
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nCells`
    * Voronoi cells around k-means centroids trained with `trainIters`
    * deterministic Lloyd steps (seeds = lowest-id vectors), then
    * answer queries by exact-scoring only the `nProbe` nearest cells.
    * The cell id becomes the shuffle/storage key at scale: each query
    * touches nProbe/nCells of the corpus instead of all of it.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, nCells: Int = 16, nProbe: Int = 4,
      trainIters: Int = 2): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // training re-reads the points once per Lloyd step — cache the
    // decoded vectors for the loop, then release (the final assignment
    // pays one re-scan instead of pinning the table for the session)
    val points = df.select(col(idCol).as("neighbor_id"), v.as("v")).persist()
    val centroids = trainIvfCentroids(points, nCells, trainIters)
    points.unpersist()
    val assigned = assignCells(points, centroids)
    // queries probe their nProbe nearest cells — again a pure
    // projection over the driver-held centroids, then explode
    val probes = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), v.as("q"),
        explode(slice(nearestCells(v, centroids), 1, nProbe)).as("cell"))
    val cands = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Persisted IVF index: deterministic k-means centroids plus the
    * corpus laid out cell-partitioned on disk. [[ivfTopK]] retrains per
    * call — right for exploration, wrong at corpus scale, where the
    * index is built once (amortized over every query) and a query
    * reads ONLY its probed cells via hive partition pruning: nProbe /
    * nCells of the data moves, the rest is never opened. This is the
    * IVF file layout every ANN system converges on, expressed as a
    * partitioned parquet table.
    */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, nCells: Int = 16, trainIters: Int = 2): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(vecCol).cast("array<double>")
    val points = df.select(col(idCol).as("neighbor_id"), v.as("v")).persist()
    val centroids = trainIvfCentroids(points, nCells, trainIters)
    centroids.toDF("cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    assignCells(points, centroids)
      // id-sorted within each cell partition: the by-id lookup path
      // (fetching query vectors) then prunes row groups via parquet
      // min/max id stats instead of decoding whole cells
      .sortWithinPartitions(col("neighbor_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/points")
    points.unpersist()
  }

  /** Query the persisted index: same semantics and bit-identical
    * results as [[ivfTopK]] with equal parameters (same training), but
    * the CANDIDATE scan — the data-proportional cost — touches only
    * the probed cell partitions (probe cells are driver-computed over
    * the KB-sized centroid table, so the filter is a literal IN list
    * the planner prunes partitions with). The by-id query-vector
    * lookup has no cell predicate; it relies on the per-partition id
    * sort\'s row-group stats, and a serving deployment would hand the
    * vectors in directly instead of looking them up here.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queryIds: Seq[Long], k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexPath/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val cmat = new graft.functions.IvfCentroids(
      centroids.map(_._1).toArray, centroids.map(_._2.toArray).toArray)
    val pts = spark.read.parquet(s"$indexPath/points")
    val qRows = pts.where(col("neighbor_id").isin(queryIds: _*))
      .select(col("neighbor_id"), col("v")).collect()
    val probes = qRows.toSeq.flatMap { r =>
      val qv = r.getSeq[Double](1)
      val cells = graft.functions.IvfCells.nearestCells(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(qv.toArray), cmat)
      (0 until math.min(nProbe, cells.numElements()))
        .map(i => (r.getLong(0), qv, cells.getLong(i)))
    }
    val probedCells = probes.map(_._3).distinct.sorted
    val probesDf = probes.toDF("query_id", "q", "cell")
    val cands = pts.where(col("cell").isin(probedCells: _*)) // partition prune
      .join(broadcast(probesDf), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Approximate top-k: LSH-bucket the corpus, probe only buckets
    * within `probeHamming` bits of the query's bucket (explode of
    * nearby buckets — multi-probe LSH), exact-rank the candidates.
    * Same output shape as [[bruteForceTopK]]; recall < 1 by design —
    * this is the 100 TB path where scoring the full corpus per query
    * is not an option.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, nBits: Int = 12, probeHamming: Int = 1): DataFrame = {
    val bucketed = df.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("v"),
      lshBuckets(col(vecCol).cast("array<double>"), nBits).as("bucket"))
    // query probes its own bucket plus all buckets within hamming 1
    val queries = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q"),
        lshBuckets(col(vecCol).cast("array<double>"), nBits).as("qb"))
      .withColumn("probe",
        if (probeHamming >= 1)
          explode(concat(array(col("qb")),
            transform(sequence(lit(0), lit(nBits - 1)),
              i => col("qb").bitwiseXOR(call_function("shiftleft", lit(1L), i)))))
        else col("qb"))
    val cands = bucketed.join(broadcast(queries),
        col("bucket") === col("probe") && col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Symmetric per-vector int8 quantization — the standard memory/IO
    * reduction for billion-vector ANN (4× smaller than float32, SIMD
    * integer dot products): q_i = floor(v_i · 127 / amax + 0.5) with
    * amax = max|v_i| (so q ∈ [-127, 127] with no clamp needed), plus
    * the per-vector dequantization scale amax/127. floor(+0.5), not
    * round(): pure IEEE ops, engine-portable (see groupCentroids).
    * Zero vectors quantize to zeros with scale 0. Output is EXPLODED
    * to scalar rows (id, dim, q, amax_e9) so external engines can
    * verify the quantization integer-for-integer.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("v"))
      .withColumn("amax", aggregate(transform(col("v"), x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)))
      .select(col("id"), col("amax"), posexplode(col("v")))
      .select(col("id"), col("pos").cast("long").as("dim"),
        when(col("amax") === 0.0, lit(0L))
          .otherwise(expr("CAST(floor(col * 127 / amax + 0.5) AS BIGINT)")).as("q"),
        expr("CAST(floor(amax * 1000000000 + 0.5) AS BIGINT)").as("amax_e9"))
      .orderBy("id", "dim")
  }

  /** Exact top-k under int8 quantization: integer dot products over the
    * quantized corpus, ranked by (int_dot · scale_a · scale_b) — at
    * scale this is the memory-bound first pass of a two-stage search
    * (quantized scan → float re-rank of the shortlist). The ranking
    * core is INTEGER (the per-pair int_dot), so results are
    * deterministic and externally verifiable; the scale product only
    * orders across pairs and is reported in e6 fixed point like every
    * other similarity kernel here. Ties break by neighbor id.
    * Output: query_id, neighbor_id, rank, int_dot, approx_e6.
    */
  def int8TopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val quant = df.select(col(idCol).as("id"), v.as("v"))
      .withColumn("amax", aggregate(transform(col("v"), x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)))
      .select(col("id"),
        when(col("amax") === 0.0, expr("transform(v, x -> 0L)"))
          .otherwise(expr("transform(v, x -> CAST(floor(x * 127 / amax + 0.5) AS BIGINT))"))
          .as("qv"),
        (col("amax") / 127.0).as("scale"))
    val corpus = quant.select(col("id").as("neighbor_id"),
      col("qv").as("qv_n"), col("scale").as("scale_n"))
    val queries = quant.where(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("qv").as("qv_q"), col("scale").as("scale_q"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("int_dot", aggregate(
        zip_with(col("qv_q"), col("qv_n"), (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("approx", col("int_dot").cast("double") * col("scale_q") * col("scale_n"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("int_dot"),
        expr("CAST(floor(approx * 1000000 + 0.5) AS BIGINT)").as("approx_e6"))
      .orderBy("query_id", "rank")
  }

  /** Two-stage retrieval — the shape production vector search takes at
    * 10^9 vectors: a cheap int8 first pass ([[int8TopK]]) shortlists
    * `shortlist` candidates per query, then ONLY those are re-scored
    * with exact float dot products and re-ranked to the final top-k.
    * The expensive exact pass touches shortlist/corpus of the data;
    * quantization error can only cost recall at the shortlist
    * boundary, never mis-rank the final page (which is float-exact).
    */
  def int8RerankTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, shortlist: Int = 50): DataFrame = {
    val short = int8TopK(df, idCol, vecCol, queryIds, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val v = col(vecCol).cast("array<double>")
    val queries = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), v.as("q"))
    val corpus = df.select(col(idCol).as("neighbor_id"), v.as("v"))
    val rescored = short
      .join(broadcast(queries), Seq("query_id"))
      .join(corpus, Seq("neighbor_id"))
      .withColumn("dot", dot(col("q"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-space decontamination — the semantic companion of
    * n-gram [[Decontaminate]]: drop corpus documents whose embedding is
    * too close to ANY benchmark embedding (paraphrased test-set leaks
    * that share no n-grams still collide here). Per corpus doc the max
    * dot over the benchmark set is computed MAP-SIDE against the
    * collected benchmark matrix ([[graft.functions.MaxDotExpr]], one
    * reference object in codegen) — the genuinely right scale shape:
    * benchmarks are MBs while the corpus is TBs, so the corpus neither
    * shuffles NOR fans out |corpus|×|bench| join rows (the r11 sf1
    * bench measured the broadcast-join + re-aggregation form of this
    * at 22.8 s for 19k×1k; the single-scan form replaces it, bit-equal:
    * same per-pair accumulation order, max is order-independent).
    * Output: (id, max_dot_e6) of the KEPT (max dot < threshold) docs,
    * id-ordered. An EMPTY benchmark keeps the old join semantics —
    * empty output.
    */
  def embeddingDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val rows = bench.select(col(vecCol).cast("array<double>").as("bv"))
      .collect().map(_.getSeq[Double](0).toArray)
    if (rows.isEmpty)
      return c.select(col("id"), lit(0L).as("max_dot_e6")).limit(0)
    c.withColumn("max_dot",
        graft.functions.VectorExpressions.maxDot(col("v"), rows))
      .where(col("max_dot") < threshold)
      .select(col("id"),
        expr("CAST(floor(max_dot * 1000000 + 0.5) AS BIGINT)").as("max_dot_e6"))
      .orderBy("id")
  }

  /** Per-group centroid of an embedding column, in integer micro-units:
    * per (group, dimension), n, Σ round(v·1e6) and their IEEE-division
    * mean. Integer summation is associative, so the result is
    * partitioning-independent and engine-portable — a float mean would
    * depend on reduction order. The training-data uses: per-source /
    * per-cluster corpus fingerprints, drift monitoring between corpus
    * versions, and seeding k-means (the IVF trainer bootstraps from
    * exactly this shape).
    *
    * Scale: posexplode fans each vector into (group, dim) rows that
    * partial-aggregate map-side BEFORE the shuffle — the exchange
    * carries at most |groups|·|dims| rows per task, not the corpus.
    */
  /** Hybrid retrieval: lexical BM25 ranks and embedding-dot ranks for
    * the SAME query, fused by Reciprocal Rank Fusion —
    * rrf(d) = 1/(kRrf + rank_lex(d)) + 1/(kRrf + rank_sem(d)), a rank
    * list absent contributing 0. RRF is the standard score-free fusion
    * for lexical+vector search (Cormack et al., SIGIR'09): it needs no
    * score calibration between the two systems, only their ranks, so
    * the fused result is exactly reproducible anywhere the two rank
    * lists are (both are deterministic here: score desc, id asc).
    *
    * Each system contributes its top `poolK`; the fused list is the
    * top `topK` by (rrf desc, id asc). Output: doc_id, rank_lex,
    * rank_sem (null when the doc is outside that system's pool),
    * rrf_score, fused_rank.
    *
    * Scale: both pools are TakeOrdered top-k over their corpora (no
    * global sort); the fusion itself joins two ≤poolK-row frames —
    * driver-free and broadcast by AQE. Swap the brute-force semantic
    * pool for [[ivfTopKIndexed]] at corpus scale; the fusion is
    * unchanged.
    */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
      embeds: DataFrame, embIdCol: String, vecCol: String,
      terms: Seq[String], queryId: Long, kRrf: Int = 60,
      poolK: Int = 50, topK: Int = 20): DataFrame = {
    val lex = CorpusStats.bm25Rank(docs, idCol, textCol, terms, topK = poolK)
      .select(col(idCol).as("doc_id"), col("score"))
    // partitionBy(lit(0)): bounded pool (<= poolK rows), constant key
    // silences the global-window warning without changing the plan
    val wl = Window.partitionBy(lit(0)).orderBy(col("score").desc, col("doc_id").asc)
    val lexRanks = lex
      .withColumn("rank_lex", row_number().over(wl).cast("long"))
      .select("doc_id", "rank_lex")
    val semRanks = bruteForceTopK(embeds, embIdCol, vecCol,
        queryIds = Seq(queryId), k = poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_sem"))
    val contrib = (r: Column) =>
      coalesce(lit(1.0) / (lit(kRrf).cast("double") + r.cast("double")), lit(0.0))
    val fused = lexRanks.join(semRanks, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", contrib(col("rank_lex")) + contrib(col("rank_sem")))
    val wf = Window.partitionBy(lit(0)).orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("fused_rank", row_number().over(wf).cast("long"))
      .where(col("fused_rank") <= topK)
      .orderBy("fused_rank")
  }

  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("grp"),
        posexplode(col(vecCol).cast("array<double>")))
      .select(col("grp"), col("pos").cast("long").as("dim"),
        // floor(v*1e6 + 0.5), not round(): Spark's round on DOUBLE detours
        // through BigDecimal.valueOf (shortest-decimal re-read) while other
        // engines round the exact binary value, so values near a .5 boundary
        // disagree by 1 unit. floor(+0.5) is pure IEEE and engine-portable.
        expr("CAST(floor(col * 1000000 + 0.5) AS BIGINT)").as("v_e6"))
      .groupBy("grp", "dim")
      // All-integer output: the centroid mean is sum_e6 / n, one IEEE
      // division away, but emitting it as a DOUBLE makes the result hash
      // depend on how a downstream verifier *renders* floats. Exposing only
      // the exact (n, sum_e6) integer pair keeps the comparison surface
      // engine- and renderer-portable.
      .agg(count(lit(1)).as("n"), sum(col("v_e6")).as("sum_e6"))
      .orderBy("grp", "dim")

  // ---- product quantization (PQ) — the 10^9-vector memory path ----

  private def e6Points(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      expr(s"transform(CAST($vecCol AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))")
        .as("v"))

  /** PQ codebooks: the vector space is cut into `m` contiguous
    * subspaces of dim/m dimensions; each subspace gets its own
    * `kSub`-centroid codebook trained with the SAME deterministic
    * integer-lattice Lloyd recipe as [[kmeansAssign]] (seeds = the
    * kSub lowest-id vectors' subvectors, ties to the lowest cell,
    * floor(sum/n) updates, empty cells keep their previous centroid) —
    * so training is bit-replayable by any SQL engine. All m subspaces
    * train JOINTLY: one assignment pass and one update job per Lloyd
    * iteration regardless of m (the update groups by (dimension,
    * cell-of-its-subspace)).
    *
    * Returns codebooks(j)(c) = subspace j's centroid c on the e6
    * lattice. Codebook bytes are m·kSub·(dim/m)·8 — KBs; they travel
    * as plan literals, never a shuffle.
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, kSub: Int, iters: Int): IndexedSeq[IndexedSeq[Seq[Long]]] = {
    require(m > 0 && kSub > 0 && iters > 0, "m, kSub, iters must be positive")
    val pts = e6Points(df, idCol, vecCol)
    pts.persist()
    try {
      // the seed collect doubles as the dimension probe (r16: a
      // separate head() job used to run first — one fewer action per
      // training call, and the seeds job is what warms the cache)
      val seeds = pts.orderBy(col("id").asc).limit(kSub).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).map(_._2).toIndexedSeq
      require(seeds.nonEmpty, "empty corpus")
      val dim = seeds.head.length
      require(dim % m == 0, s"dim $dim must be divisible by m=$m")
      val sub = dim / m
      var books: IndexedSeq[IndexedSeq[Seq[Long]]] =
        IndexedSeq.tabulate(m)(j => seeds.map(v => v.slice(j * sub, (j + 1) * sub)))
      for (_ <- 2 to iters) {
        val a = withPqCodes(pts, books, sub)
        val rows = a.select(col("codes"), posexplode(col("v")))
          .select(col("pos"),
            element_at(col("codes"), (col("pos") / sub).cast("int") + 1).as("cell"),
            col("col").as("x"))
          .groupBy("pos", "cell")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val updated = rows
          .map(r => ((r.getInt(0) / sub, r.getInt(1)), (r.getInt(0) % sub,
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong)))
          .groupBy(_._1._1)
        books = books.indices.map { j =>
          val byCell = updated.getOrElse(j, Array.empty).groupBy(_._1._2)
          books(j).indices.map { c =>
            byCell.get(c) match {
              case Some(vals) if vals.length == sub =>
                vals.sortBy(_._2._1).map(_._2._2).toSeq
              case _ => books(j)(c) // empty cell keeps its centroid
            }
          }
        }
      }
      books
    } finally pts.unpersist()
  }

  /** Appends `codes` (array<int>, length m): per subspace, the argmin-
    * distance codebook entry, ties to the lowest code — row-local,
    * codegen'd, the codebooks inlined as literals. */
  private def withPqCodes(pts: DataFrame,
      books: IndexedSeq[IndexedSeq[Seq[Long]]], sub: Int): DataFrame =
    pts.withColumn("codes", array(books.indices.map { j =>
      val d = array(books(j).map(cv =>
        aggregate(zip_with(slice(col("v"), j * sub + 1, sub), lit(cv.toArray),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)): _*)
      (call_function("array_position", d, array_min(d)) - 1).cast("int")
    }: _*))

  /** PQ ANN top-k by asymmetric distance computation (ADC) — the
    * Jégou/Douze/Schmid "Product Quantization for Nearest Neighbor
    * Search" design. The corpus is stored as m small integer codes per
    * vector (m bytes at kSub<=256 — a 100-200× memory cut vs float32,
    * what makes 10^9 vectors fit a cluster's RAM); per query a
    * m·kSub lookup table of exact subspace distances to every codebook
    * entry is computed once, and each corpus row's approximate squared
    * distance is just m table lookups summed — no per-row float math,
    * fully codegen'd, scan + TakeOrdered, zero shuffle.
    *
    * Everything is integer on the e6 lattice: `adist` is an exact
    * BIGINT given the (deterministically trained) codebooks, so
    * results replay bit-for-bit in SQL. Ties break by neighbor id;
    * queries exclude themselves like [[ivfTopK]].
    *
    * Output: query_id, neighbor_id, rank, adist.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, m: Int = 4, kSub: Int = 8,
      iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val books = trainPqCodebooks(df, idCol, vecCol, m, kSub, iters)
    val sub = books.head.head.length
    val pts = e6Points(df, idCol, vecCol)
    val corpus = withPqCodes(pts, books, sub)
      .select(col("id").as("neighbor_id"), col("codes"))
    val qVecs = pts.where(col("id").isin(queryIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    // LUT(q)(j*kSub + c) = exact subspace distance query->codebook entry
    val luts = qVecs.map { case (qid, qv) =>
      (qid, books.indices.flatMap { j =>
        val qs = qv.slice(j * sub, (j + 1) * sub)
        books(j).map(cv => qs.zip(cv).map { case (a, b) =>
          val d = a - b; d * d
        }.sum)
      }.toArray)
    }
    import spark.implicits._
    val queries = luts.toDF("query_id", "lut")
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", books.indices.map(j =>
        element_at(col("lut"), lit(j * kSub) + element_at(col("codes"), j + 1) + 1))
        .reduce(_ + _))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("adist"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ — the composition every 10^9+-vector system converges on
    * (FAISS IVFPQ): IVF cell probing prunes the candidate set to
    * ~nProbe/nCells of the corpus, PQ ADC scores the survivors with m
    * table lookups each, never touching a float vector. The whole
    * per-vector index footprint is a cell id + m small codes; the
    * candidate scan is an EQUI-join on cell against the broadcast
    * probe list (partition-prunable with [[buildIvfIndex]]'s
    * cell-partitioned layout) plus a broadcast LUT join on query id —
    * no nested loop anywhere in the plan.
    *
    * Training stays deterministic on both axes (float-exact IVF
    * means, integer-lattice PQ codebooks), so the composed result
    * replays bit-for-bit in SQL. Output: query_id, neighbor_id,
    * rank, adist (BIGINT e12 ADC distance; ties break by id).
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, nCells: Int = 16, nProbe: Int = 4,
      ivfIters: Int = 2, m: Int = 4, kSub: Int = 8,
      pqIters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val v = col(vecCol).cast("array<double>")
    val points = df.select(col(idCol).as("neighbor_id"), v.as("v")).persist()
    val centroids = trainIvfCentroids(points, nCells, ivfIters)
    val books = trainPqCodebooks(df, idCol, vecCol, m, kSub, pqIters)
    points.unpersist()
    val sub = books.head.head.length
    // one projection: cell (over the double vector) + codes (over its
    // e6 quantization) — codebooks and centroids ride as literals
    val enc = withPqCodes(
      points
        .withColumn("cell", nearestCells(col("v"), centroids).getItem(0))
        .withColumn("v",
          expr("transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))")),
      books, sub)
      .select(col("neighbor_id"), col("cell"), col("codes"))
    val probes = df.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"),
        explode(slice(nearestCells(v, centroids), 1, nProbe)).as("cell"))
    val pts = e6Points(df, idCol, vecCol)
    val qVecs = pts.where(col("id").isin(queryIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val luts = qVecs.map { case (qid, qv) =>
      (qid, books.indices.flatMap { j =>
        val qs = qv.slice(j * sub, (j + 1) * sub)
        books(j).map(cv => qs.zip(cv).map { case (a, b) =>
          val d = a - b; d * d
        }.sum)
      }.toArray)
    }
    import spark.implicits._
    val scored = enc
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(luts.toDF("query_id", "lut")), Seq("query_id"))
      .withColumn("adist", books.indices.map(j =>
        element_at(col("lut"), lit(j * kSub) + element_at(col("codes"), j + 1) + 1))
        .reduce(_ + _))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("adist"))
      .orderBy("query_id", "rank")
  }

  /** Two-stage PQ retrieval: ADC shortlists `shortlist` candidates per
    * query ([[pqTopK]]), then ONLY those are re-scored with the exact
    * integer squared distance on the e6 lattice and re-ranked to the
    * final top-k — the standard IVF-PQ+rerank shape at 10^9 vectors,
    * where the exact pass touches shortlist/corpus of the data and the
    * final page is distance-exact. All-integer output.
    * Output: query_id, neighbor_id, rank, dist.
    */
  def pqRerankTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, shortlist: Int = 40, m: Int = 4,
      kSub: Int = 8, iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The shortlist is driver-sized BY CONSTRUCTION (|queryIds| ×
    // shortlist rows — queryIds is already a driver-side Seq), so
    // materialize it once: the expensive ADC subtree (codebook
    // training + the interpreted higher-order encode expressions +
    // the corpus window) executes exactly one time, here. Leaving it
    // lazy made the exact-rescore join below drag the whole subtree
    // back in as its build side — r8's 12× dp_ann_pq bench anomaly.
    val short = pqTopK(df, idCol, vecCol, queryIds, shortlist, m, kSub, iters)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val candIds = short.map(_._2).distinct
    // exact pass: ONE corpus scan pruned to the shortlist ids (the
    // In filter pushes to parquet), never the ADC plan again — at
    // 10^9 vectors this touches shortlist/corpus of the data, which
    // is the entire point of the two-stage shape
    val pts = e6Points(df, idCol, vecCol)
    val queries = pts.where(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("q"))
    val rescored = pts.where(col("id").isin(candIds: _*))
      .select(col("id").as("neighbor_id"), col("v"))
      .join(broadcast(short.toDF("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("dist", aggregate(zip_with(col("q"), col("v"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("dist"))
      .orderBy("query_id", "rank")
  }
}
