package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared vector plumbing for the dedup/similarity operators — one
  * definition of the dot product, the normalized embeddings reader,
  * and their DuckDB twins, so the Spark/oracle summation-order
  * contract lives in exactly one place. */
object VectorOps {

  /** Codegen'd dot product (DotProduct, registered by GraftExtensions)
    * — ascending-index summation, bit-exact with the DuckDB oracle's
    * left fold. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Embeddings as double vectors with L2 norms, hash-repartitioned on
    * vec_id off the (single-split at test scale) scan. */
  def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** DuckDB twin of vecs: double-cast elements, left-fold in index
    * order so the summation order matches dot() exactly. */
  def vecsSql(idCol: String): String =
    s"""SELECT $idCol, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), (s, x) -> s + x)) AS norm
       |FROM embeddings""".stripMargin

  /** DuckDB twin of dot(x, y) over two list expressions — left fold in
    * index order, matching the codegen loop exactly. */
  def dotSqlOf(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip($x, $y), z -> CAST(z[1] AS DOUBLE) * z[2])),
       |    (s, x) -> s + x)""".stripMargin

  /** Squared-distance twin: Σ (x_i − y_i)², same fold order. */
  def dist2SqlOf(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip($x, $y),
       |      z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2]))),
       |    (s, x) -> s + x)""".stripMargin
}
