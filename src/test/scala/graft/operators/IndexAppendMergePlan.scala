package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.MinHashIndex.{bandRows, bandsTable, docsTable, geometry, signed, withDocBucket}
import graft.operators.Similarity._
import graft.sources.PqRepo

/** The index appends that the keyed, insert-as-new-files appends
  * ([[graft.sources.KeyedAppend]]) replaced, kept as the reference they
  * are property-tested against (IndexAppendSpec): the whole batch merges
  * through the partition-scoped copy-on-write [[PqRepo.merge]], which
  * reads and rewrites every partition
  * the batch touches, and reassignment finds its moved ids with a join.
  * The IVF-PQ, quantized and reassign bodies are the library's own as
  * they stood before the keyed append. */
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
    repo.merge(withDocBucket(perDoc, g), schema, docsTable(name),
      keys = Seq("id", "dbucket"), partitionCols = Seq("dbucket"))
    repo.merge(bandRows(perDoc, g), schema, bandsTable(name),
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
    repo.merge(assigned, schema, s"${name}_ivf",
      keys = Seq("id", "cluster"), partitionCols = Seq("cluster"))
  }

  def ivfPqAppend(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String,
      checkMoved: Boolean = true): Unit = {
    val IvfPqIndexData(cents, books, coded, residual) =
      readIvfPqIndex(repo, schema, name)
    // materialized once, as in appendToIvfIndex
    val assigned = Dedup.materializeOnce(assignClusters(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")), cents))
    val movedSample =
      if (!checkMoved) Array.empty[org.apache.spark.sql.Row]
      else movedIds(coded, assigned)
    if (movedSample.nonEmpty) {
      val shown = movedSample.map(r =>
        s"${r.get(0)}: ${r.get(1)} -> ${r.get(2)}").mkString(", ")
      throw new IllegalStateException(
        s"appendToIvfPqIndex($schema/$name): batch re-ingests ids whose " +
          s"embeddings moved clusters [$shown${if (movedSample.length == 5) ", …" else ""}] — " +
          "stale codes would survive in partitions this merge never " +
          "rewrites. Re-train via ivfBuild + pqTrain + writeIvfPqIndex " +
          "if the corpus drifted, or pass checkMoved = false only for " +
          "provably append-only feeds")
    }
    // encode with the layout the index was WRITTEN with: a residual
    // index's batch quantizes x − centroid under the same frozen
    // geometry (the flag comes from the persisted meta, never the caller)
    val codedBatch =
      if (residual)
        withResidual(assigned, cents).select(col("id"), col("cluster"),
          VectorFunctions.pqEncode(col("__rv"), books.books).as("codes"))
      else assigned.select(col("id"), col("cluster"),
        VectorFunctions.pqEncode(col("v"), books.books).as("codes"))
    repo.merge(codedBatch, schema, s"${name}_ivfpq",
      keys = Seq("id", "cluster"), partitionCols = Seq("cluster"))
  }

  def q8Append(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String): Unit = {
    val table = s"${name}_q8"
    val destMissing = repo.list(schema).forall(_ != table)
    if (destMissing) {
      writeQuantizedIndex(repo, batch, idCol, vecCol, schema, name)
      return
    }
    val numBuckets = repo.readTableMeta(schema, table).get(Q8BucketsProp) match {
      case Some(n) => n.toInt
      case None => throw new IllegalStateException(
        s"$schema/$table has no '$Q8BucketsProp' sidecar — it predates the " +
          "bucketed layout, or a build crashed before stamping it; rebuild " +
          "with writeQuantizedIndex before appending (a blind merge with a " +
          "guessed modulus would split ids across buckets, and a flat merge " +
          "would rewrite the entire index)")
    }
    val coded = quantize(batch, idCol, vecCol)
      .withColumn("bucket", q8Bucket(idCol, numBuckets))
    repo.merge(coded, schema, table,
      keys = Seq(idCol, "bucket"), partitionCols = Seq("bucket"))
  }

  def ivfReassign(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String): Unit = {
    val index = readIvfIndex(repo, schema, name)
    // materialized once: the affected-cluster collect and the write must
    // see the same rows, whatever the caller's batch does on re-execution
    val assigned = Dedup.materializeOnce(assignClusters(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")), index.centroids))
    val oldClusters = index.assigned.select(col("id"), col("cluster"))
      .join(assigned.select(col("id"), col("cluster").as("__new")), Seq("id"))
      .filter(col("cluster") =!= col("__new"))
      .select(col("cluster"))
    val affected = assigned.select(col("cluster"))
      .unionByName(oldClusters).distinct().collect() // bounded: ≤ 2·nlist
    if (affected.isEmpty) return
    repo.mergeIntoPartitions(assigned, schema, s"${name}_ivf",
      keys = Seq("id"), partitionCols = Seq("cluster"),
      affected = affected.toSeq)
  }

  private def movedIds(
      indexed: DataFrame, assigned: DataFrame): Array[org.apache.spark.sql.Row] =
    indexed.select(col("id"), col("cluster").as("__old"))
      .join(assigned.select(col("id"), col("cluster")), Seq("id"))
      .filter(col("__old") =!= col("cluster"))
      .select(col("id"), col("__old"), col("cluster"))
      .limit(5).collect()
}
