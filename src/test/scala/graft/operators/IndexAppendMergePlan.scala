package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.MinHashIndex.{bandRows, bandsTable, docsTable, geometry, signed, withDocBucket}
import graft.sources.PqRepo

/** The index appends that the driver-probed, insert-as-new-files appends
  * replaced, kept as the reference they are property-tested against
  * (IndexAppendSpec): the whole batch merges through the partition-scoped
  * copy-on-write [[PqRepo.mergePartitioned]], which reads and rewrites
  * every partition the batch touches. */
object IndexAppendMergePlan {

  def minHashAppend(
      repo: PqRepo,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      schema: String,
      name: String,
      checkChanged: Boolean = true): Unit = {
    val g = geometry(repo, schema, name)
    val perDoc = Dedup.materializeOnce(signed(batch, idCol, textCol, g))
    val changedSample =
      if (!checkChanged) Array.empty[Row]
      else repo.table(schema, docsTable(name))
        .select(col("id"), col("dig").as("__old"))
        .join(perDoc.select(col("id"), col("dig")), Seq("id"))
        .filter(!(col("__old") <=> col("dig")))
        .select(col("id")).limit(5).collect()
    if (changedSample.nonEmpty)
      throw new IllegalStateException(
        s"MinHashIndex.append($schema/$name): batch re-ingests ids whose " +
          s"content changed [${changedSample.map(_.get(0)).mkString(", ")}]")
    repo.mergePartitioned(withDocBucket(perDoc, g), schema, docsTable(name),
      keys = Seq("id", "dbucket"), partitionCols = Seq("dbucket"))
    repo.mergePartitioned(bandRows(perDoc, g), schema, bandsTable(name),
      keys = Seq("id", "band", "bh", "bucket"), partitionCols = Seq("bucket"))
  }

  def ivfAppend(
      repo: PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String,
      checkMoved: Boolean = true): Unit = {
    val index = Similarity.readIvfIndex(repo, schema, name)
    val assigned = Dedup.materializeOnce(Similarity.assignClusters(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")), index.centroids))
    val moved =
      if (!checkMoved) Array.empty[Row]
      else index.assigned.select(col("id"), col("cluster").as("__old"))
        .join(assigned.select(col("id"), col("cluster")), Seq("id"))
        .filter(col("__old") =!= col("cluster"))
        .limit(5).collect()
    if (moved.nonEmpty)
      throw new IllegalStateException(
        s"appendToIvfIndex($schema/$name): batch re-ingests ids whose " +
          s"embeddings moved clusters [${moved.map(_.get(0)).mkString(", ")}]")
    repo.mergePartitioned(assigned, schema, s"${name}_ivf",
      keys = Seq("id", "cluster"), partitionCols = Seq("cluster"))
  }
}
