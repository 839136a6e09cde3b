package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-surface registration for the custom Catalyst expressions
  * (SURVEY.md §2.8 U6): after `register(spark)`,
  * `SELECT normalize_surface(text) FROM docs` works in plain SQL, and
  * `vec_dot(a, b)` is available for embedding math.
  * (GazetteerMatchCountsExpr needs a broadcast trie handle, so it stays a
  * Column-API constructor — registry builders only receive child
  * expressions.)
  */
object SqlFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "normalize_surface", exprs => NormalizeSurface(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "vec_lsh_bucket", exprs => VecLshBucket(exprs.head,
        graft.dataprep.Similarity.LshPlanes), "scala_udf")
  }
}
