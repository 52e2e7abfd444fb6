package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** The near-dup pipeline evaluates its input once per call. Each input
  * row bumps a `LongAccumulator` every time the stage below its exchange
  * evaluates it, so a count of twice the rows means the upstream
  * pipeline ran twice. */
class EvaluationCountSpec extends SparkSpec {

  private val n = 200

  /** The `id`s of `source` behind a hash exchange, counted in `seen` as
    * they are evaluated. */
  private def counted(seen: LongAccumulator, source: DataFrame): DataFrame = {
    val mark = udf { (id: Long) => seen.add(1); id }
    source.select(mark(col("id")).as("id")).repartition(col("id"))
  }

  test("componentsWithStats evaluates each upstream pair once") {
    val seen = spark.sparkContext.longAccumulator("componentsWithStats")
    // the shape of the band explode in minhash pairs: a join of two
    // materialized frames, which AQE turns into a broadcast join once
    // their sizes are known, under an exchange. Spark reuses no exchange
    // above such a join across the branches of a union, so edges built
    // as a union of the two directions ran this stage twice.
    val ids = Dedup.materializeOnce(spark.range(n).toDF("id"))
    val keys = Dedup.materializeOnce(spark.range(n).select(col("id").as("k")))
    val pairs = counted(seen, ids.join(keys, col("id") === col("k")))
      // the chain 0 - 1 - ... - n: one component labeled 0
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, stats) = Dedup.componentsWithStats(pairs)
    assert(seen.value == n)
    assert(stats.converged)
    assert(labels.filter(col("label") =!= 0).count() == 0)
    assert(labels.count() == n + 1)
    assert(seen.value == n)
  }

  test("fanOut then materializeOnce evaluates each upstream row once") {
    val seen = spark.sparkContext.longAccumulator("fanOut")
    val spread = Dedup.materializeOnce(
      Dedup.fanOut(counted(seen, spark.range(n).toDF()), col("id")))
    assert(seen.value == n)
    assert(spread.count() == n)
    assert(seen.value == n)
  }
}
