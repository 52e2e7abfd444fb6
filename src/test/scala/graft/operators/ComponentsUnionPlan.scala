package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[Dedup.componentsWithStats]] as it stood before its directed edge
  * list became one projection: the union of the two directions of
  * `pairs`, which evaluates `pairs` once per branch. Kept as the
  * reference the single-pass edges are property-tested against
  * (EquivalenceSpec); both feed the same solver. */
object ComponentsUnionPlan {

  def componentsWithStats(
      pairs: DataFrame,
      maxIters: Int = 10,
      reliableCheckpoint: Boolean = false): (DataFrame, Dedup.ComponentsStats) =
    Dedup.componentsOfEdges(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      maxIters, reliableCheckpoint)
}
