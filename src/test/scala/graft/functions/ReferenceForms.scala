package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Plain Spark SQL formulations of graft's native kernels. They exist
  * only so [[VectorExpressionsSpec]] can check each kernel bit-for-bit
  * against an independent, obviously-correct expression.
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
}
