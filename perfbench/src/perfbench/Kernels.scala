package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.{SimHashImpl, TextKernels, TokenStats, VectorL2Sq, VectorOps}

/** Kernel probe: rows/s of each custom Catalyst kernel over generated,
  * cached columns, called through the Column functions of
  * `graft.functions` (no SQL extensions). */
object Kernels {
  val Rows = 100000
  val Reps = 3

  def probe(spark: SparkSession, seed: Long): Map[String, Double] = {
    def toks(shift: Int) = expr(s"transform(sequence(1, 24), i -> " +
      s"concat('w', cast(pmod(hash(id + $shift, i, ${seed}L), 3000) AS STRING)))")
    def vec(shift: Int) = expr(s"transform(sequence(1, 64), i -> " +
      s"CAST(pmod(hash(id + $shift, i, ${seed}L), 2000) / 1000.0 AS FLOAT))")
    val df = spark.range(Rows).select(toks(0).as("t1"), toks(7).as("t2"),
        vec(0).as("v1"), vec(3).as("v2"))
      .select(col("*"), array_sort(array_distinct(col("t1"))).as("s1"),
        array_sort(array_distinct(col("t2"))).as("s2"),
        concat_ws(" ", col("t1")).as("text"),
        col("v2").cast("array<double>").as("v2d"))
      .cache()
    df.count()
    val kernels: Seq[(String, Column)] = Seq(
      "minhash_sig" -> TextKernels.minhash_sig(col("t1"), 64),
      "simhash" -> SimHashImpl.simhash(col("t1")),
      "sorted_jaccard" -> TextKernels.sorted_jaccard(col("s1"), col("s2")),
      "vector_dot" -> VectorOps.dot(col("v1"), col("v2")),
      // vector_l2sq (float corpus vs double query) has no Column
      // function; build its expression directly
      "vector_l2sq" -> column(VectorL2Sq(expression(col("v1")), expression(col("v2d")))),
      "token_stats" -> TokenStats.token_stats(col("text")))
    try kernels.map { case (name, k) =>
      val secs = (1 to Reps).map { _ =>
        val t = System.nanoTime()
        df.select(k.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      s"functions.$name.rows_per_s" -> Rows / Main.median(secs)
    }.toMap
    finally df.unpersist()
  }
}
