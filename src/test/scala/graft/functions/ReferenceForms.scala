package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain Spark SQL formulations of graft's native kernels. They exist
  * only so the specs can check each kernel bit-for-bit against an
  * independent, obviously-correct expression.
  */
object ReferenceForms {

  /** Ordered left-to-right fold of `a·b` (the native `Similarity.dot`). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Component j of deterministic hyperplane p: xxhash64(p, j) mapped
    * to [-0.5, 0.5), the planes `LshBucketsExpr` caches. */
  private def planeComponent(p: Column, j: Column): Column =
    (pmod(xxhash64(p, j), lit(1000000L)).cast("double") / 1000000.0) - 0.5

  /** Random-hyperplane LSH bucket id as higher-order functions (the
    * native `Similarity.lshBuckets`). */
  def lshBucketsHof(vec: Column, nBits: Int): Column = {
    val bits = transform(sequence(lit(0), lit(nBits - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, j) => x * planeComponent(p, j)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(
      zip_with(bits, sequence(lit(0), lit(nBits - 1)), (b, i) => call_function("shiftleft", b, i)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Regex tokenizer (the native `Tokenizers.textTokens`). */
  def textTokensRegex(value: Column, caseSensitive: Boolean): Column = {
    val base = if (caseSensitive) value else lower(value)
    filter(split(base, Tokenizers.SepRegex), t => t =!= "")
  }

  /** Exact discrete quantiles by window rank (seq/qpr.go:345-364): per
    * key, the value whose 0-based rank in value order is round(q*(n-1)),
    * i.e. `row_number() over (partition by key order by v) - 1 =
    * round(q*(n-1))`. The engine's seeded sample (DetSamplesAggregate)
    * keeps every value below its cap, so there the two must agree.
    * `frame` holds the `keys` columns and a double `v`; null values are
    * dropped. Output: (keys..., q, value), ordered by keys, then q.
    */
  def windowRankQuantiles(frame: DataFrame, keys: Seq[String], qs: Seq[Double]): DataFrame = {
    val w = Window.partitionBy((if (keys.isEmpty) Seq(lit(0)) else keys.map(col)): _*)
    val ranked = frame.where(col("v").isNotNull)
      .withColumn("rn", row_number().over(w.orderBy(col("v").asc)) - 1)
      .withColumn("n", count(lit(1)).over(w))
    val qDf = frame.sparkSession.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    ranked.join(qDf, col("rn") === round(col("q") * (col("n") - 1)).cast("long"))
      .select(keys.map(col) ++ Seq(col("q"), col("v").as("value")): _*)
      .orderBy(keys.map(c => col(c).asc) :+ col("q").asc: _*)
  }
}
