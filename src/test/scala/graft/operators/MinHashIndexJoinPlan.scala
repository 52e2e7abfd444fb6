package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MinHash
import graft.operators.MinHashIndex.{Geometry, bandRows, bandsTable, docsTable, geometry, signed}
import graft.sources.PqRepo

/** The join-plan [[MinHashIndex.dropNearKnown]] that the driver probe
  * replaced, kept as the reference the probe is property-tested against
  * (MinHashIndexProbeSpec). Batch and index meet in broadcast joins on
  * the executors; the returned frame is lazy. */
object MinHashIndexJoinPlan {

  /** Candidate (batch id, corpus id) collisions from the band tables:
    * the batch's band rows broadcast against the corpus band table,
    * which is first PARTITION-PRUNED to the buckets the batch actually
    * hashes into — the bucket list is collected driver-side (bounded by
    * the geometry's bucket count, a constant ≤ `buckets`, never
    * data-sized). */
  private def bandCollisions(repo: PqRepo, schema: String, name: String,
      batchBands: DataFrame, g: Geometry): DataFrame = {
    val buckets = batchBands.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ g.buckets (geometry constant)
    val corpus = repo.table(schema, bandsTable(name))
      .filter(col("bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
    corpus.join(
      broadcast(batchBands.select(col("id").as("__bid"), col("band"),
        col("bh"), col("bucket"))),
      Seq("bucket", "band", "bh"))
      .select(col("__bid"), col("id").as("__cid"))
      .distinct()
  }

  def dropNearKnown(
      repo: PqRepo,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      schema: String,
      name: String,
      threshold: Double = 1.0): DataFrame = {
    val g = geometry(repo, schema, name)
    val needNear = threshold * g.numHashes <= g.numHashes - 1
    // exact-only gating never runs the sketch kernel at all — digests
    // alone decide, so the batch pays one SHA pass and nothing else;
    // the near path materializes the signed frame once because the
    // digest probe AND the band probe both read it
    val signedBatch =
      if (needNear) Dedup.materializeOnce(signed(batch, idCol, textCol, g))
      else batch.select(col(idCol).as("id"),
        unhex(sha2(col(textCol), 256)).as("dig"))
    // dropKnown's two-step shape, digests instead of text: the batch's
    // distinct digests broadcast against the index's digest column
    // (corpus filtered IN PLACE — the corpus side is never a broadcast
    // or shuffle payload), and the surviving batch-collision-sized set
    // broadcasts back against the batch
    val knownDigs = repo.table(schema, docsTable(name))
      .select(col("dig").as("__cdig")).filter(col("__cdig").isNotNull)
      .join(broadcast(signedBatch.select(col("dig")).distinct()),
        col("__cdig") === col("dig"), "left_semi")
      .distinct() // ≤ batch distinct digests
    val exactDrops = signedBatch
      .join(broadcast(knownDigs), col("dig") === col("__cdig"), "left_semi")
      .select(col("id").as("__drop"))
    val drops =
      if (!needNear) exactDrops
      else {
        val cand = bandCollisions(repo, schema, name,
          bandRows(signedBatch, g), g)
        val corpusSigs = repo.table(schema, docsTable(name))
          .select(col("id"), col("sig"))
          .join(broadcast(cand.select(col("__cid")).distinct()),
            col("id") === col("__cid"), "left_semi")
          .select(col("id").as("__cid"), col("sig").as("__csig"))
        val nearDrops = cand
          .join(broadcast(signedBatch.select(col("id").as("__bid"),
            col("sig").as("__bsig"))), Seq("__bid"))
          .join(corpusSigs, Seq("__cid"))
          .filter(MinHash.estJaccard(col("__bsig"), col("__csig"))
            >= threshold)
          .select(col("__bid").as("__drop"))
        exactDrops.unionByName(nearDrops).distinct()
      }
    batch.join(broadcast(drops), batch(idCol) === col("__drop"), "left_anti")
  }
}
