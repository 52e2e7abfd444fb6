package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MinHash
import graft.sources.PqRepo

/** Persisted MinHash band index — the near-dup twin of the embedding
  * index lifecycle ([[Similarity.writeIvfIndex]] /
  * [[Similarity.appendToIvfIndex]]), closing the one 100 TB dedup gap
  * the r19 verdict ranked first: [[Dedup.dropKnown]] gates a daily batch
  * against exact corpus CONTENT without a corpus scan, but near-dup
  * gating ([[Dedup.minhashPairs]] semantics) still re-signed and
  * re-banded the whole corpus on every run. This index signs the corpus
  * ONCE, persists the signatures and band buckets through the repo's
  * atomic temp-write/promote/manifest layer, and from then on a daily
  * batch pays only batch-sized work: sign itself, probe the band buckets
  * it collides with, score the candidates against materialized corpus
  * signatures, digest-verify exact matches — and append its own rows via
  * the partition-scoped crash-recoverable merge so tomorrow's batch
  * gates against today's too.
  *
  * On-disk layout under `<schema>/`:
  *   - `<name>_mhdocs`  — (id, sig array<bigint>, dig binary(32),
  *     dbucket) partitioned by `dbucket = pmod(xxhash64(id), buckets)`;
  *     the geometry sidecar (shingleK/numHashes/bands/buckets) rides the
  *     table meta exactly like the quantized index's modulus stamp
  *     (Similarity.scala Q8BucketsProp): it promotes atomically with the
  *     data, so no crash point leaves a healthy index a later append
  *     would mis-sign.
  *   - `<name>_mhbands` — (id, band, bh, bucket) partitioned by
  *     `bucket = pmod(xxhash64(band, bh), buckets)`: a probe computes
  *     its own band hashes, derives the SAME bucket values, and the
  *     corpus side of the collision join statically prunes to just those
  *     partition directories.
  *
  * Sub-shingle-width and null texts index with a digest but a null
  * signature and NO band rows — they can never near-match (the sketch is
  * undefined), but exact-content matches against them still gate through
  * the digest path, so threshold-1.0 semantics are length-independent.
  *
  * Nothing text-sized is ever stored or shuffled: the index holds
  * 8-byte band hashes, fixed-width signatures, and 32-byte SHA-256
  * digests (the [[Dedup.verifyPairsExact]] standard — digest equality is
  * content equality up to a SHA-256 collision).
  *
  * MinHash/LSH per Broder (1997) and the banding analysis in Leskovec/
  * Rajaraman/Ullman ch. 3; dedup-before-training motivation per Lee et
  * al. (2022). No reference anchor — iangow/db2pq has no near-dup
  * surface; this is the builder brief's 100 TB dedup story. */
object MinHashIndex {

  private val ShingleKProp = "mh.shingleK"
  private val NumHashesProp = "mh.numHashes"
  private val BandsProp = "mh.bands"
  private val BucketsProp = "mh.buckets"

  /** Frozen index geometry. Like IVF centroids, geometry never changes
    * between rebuilds: every append signs with the SAME parameters or
    * the band hashes would be incomparable across ingests. */
  final case class Geometry(
      shingleK: Int, numHashes: Int, bands: Int, buckets: Int) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rows: Int = numHashes / bands
    def props: Map[String, String] = Map(
      ShingleKProp -> shingleK.toString, NumHashesProp -> numHashes.toString,
      BandsProp -> bands.toString, BucketsProp -> buckets.toString)
  }

  private def docsTable(name: String) = s"${name}_mhdocs"
  private def bandsTable(name: String) = s"${name}_mhbands"

  /** Read the frozen geometry from the docs table's meta sidecar; fails
    * loudly on a pre-geometry table rather than signing a batch with
    * defaults that silently never collide. */
  def geometry(repo: PqRepo, schema: String, name: String): Geometry = {
    val meta = repo.readTableMeta(schema, docsTable(name))
    def p(key: String): Int = meta.get(key) match {
      case Some(v) => v.toInt
      case None => throw new IllegalStateException(
        s"$schema/${docsTable(name)} has no '$key' sidecar — not a MinHash " +
          "index (or it predates the geometry stamp); rebuild via " +
          "MinHashIndex.write")
    }
    Geometry(p(ShingleKProp), p(NumHashesProp), p(BandsProp), p(BucketsProp))
  }

  /** One scan's worth of per-doc index rows: (id, sig, dig). The
    * signature is the fused native kernel [[Dedup]]'s pipelines use
    * (byte-window shingling, zero per-shingle allocation); the digest is
    * computed in the SAME projection, so signing a corpus for the index
    * costs exactly one text pass. Null/short texts keep a null sig. */
  private def signed(docs: DataFrame, idCol: String, textCol: String,
      g: Geometry): DataFrame = {
    val sigExpr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__t")),
        g.shingleK, g.numHashes, 0)).as("sig")
    Dedup.fanOut(
      docs.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), sigExpr, unhex(sha2(col("__t"), 256)).as("dig"))
  }

  private def withDocBucket(perDoc: DataFrame, g: Geometry): DataFrame =
    perDoc.withColumn("dbucket",
      pmod(xxhash64(col("id")), lit(g.buckets)).cast("int"))

  /** Band-bucket rows of a signed frame: r-row band hashes, bucketed by
    * `pmod(xxhash64(band, bh), buckets)` — the partition key a probe can
    * recompute from its own hashes, so the collision join prunes the
    * corpus read to the batch's buckets. Unsigned (null-sig) docs emit
    * no rows. */
  private def bandRows(perDoc: DataFrame, g: Geometry): DataFrame =
    perDoc.filter(col("sig").isNotNull)
      .select(col("id"),
        posexplode(MinHash.bandHashes(col("sig"), g.bands, g.rows))
          .as(Seq("band", "bh")))
      .withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(g.buckets)).cast("int"))

  /** Build (or rebuild) the index from a corpus. The signature kernel is
    * the dominant cost and feeds BOTH tables, so the signed frame is
    * materialized once ([[Dedup.materializeOnce]] — fixed-width rows,
    * never text) instead of re-running the kernel per write. */
  def write(
      repo: PqRepo,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      schema: String,
      name: String,
      // buckets = 16 by default (the q8 index's 32 halved): every merge
      // and every bucket swap costs a fixed per-directory floor, and a
      // typical BATCH's band hashes cover all buckets anyway, so more
      // buckets buy probe parallelism only — size them to the cluster
      // (hundreds at real 100 TB deployments), not to the corpus
      geometry: Geometry = Geometry(
        shingleK = 5, numHashes = 64, bands = 16, buckets = 16)): Unit = {
    val perDoc = Dedup.materializeOnce(signed(docs, idCol, textCol, geometry))
    // bucket-clustering of the layout write (one file per bucket
    // directory instead of `buckets × shuffle.partitions` fragments —
    // measured 54 s/rep → ~6 s on the streamed sf0.1 query) now lives in
    // [[graft.sources.PqRepo.writePartitioned]] itself (r20), shared by
    // every index family. The two tables are disjoint outputs reading the
    // same checkpointed signature blocks — written OVERLAPPED (guide
    // §2.6) so the per-job floor is paid once, not twice.
    graft.Par.run2(
      repo.writePartitioned(withDocBucket(perDoc, geometry), schema,
        docsTable(name), Seq("dbucket"), metaProps = Some(geometry.props)),
      repo.writePartitioned(bandRows(perDoc, geometry), schema,
        bandsTable(name), Seq("bucket")))
  }

  /** Incrementally APPEND a batch under the frozen geometry — the daily
    * near-dup-ingest primitive. The batch signs only ITSELF; both merges
    * are partition-scoped (only the dbucket/bucket directories the batch
    * hashes into are rewritten, crash-recoverable via the merge
    * manifest) and keyed so re-ingesting an unchanged document replaces
    * its own rows byte-identically — append is idempotent, and
    * `append(A); append(B)` ≡ `write(A ∪ B)` row-for-row
    * (MinHashIndexSpec pins both).
    *
    * A re-ingested id whose TEXT changed would leave stale band rows in
    * buckets the new text never hashes into — the same
    * survives-outside-the-rewrite-scope corruption
    * [[Similarity.appendToIvfIndex]]'s moved-id guard exists for, and
    * the same remedy: `checkChanged` (default on) joins the batch's
    * digests against the indexed ones (thin columns, nothing text-sized
    * moves) and fails loudly on any mismatch; re-sign via [[write]] or
    * feed provably append-only batches with `checkChanged = false`. */
  def append(
      repo: PqRepo,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      schema: String,
      name: String,
      checkChanged: Boolean = true): Unit = {
    val g = geometry(repo, schema, name)
    val perDoc = Dedup.materializeOnce(signed(batch, idCol, textCol, g))
    val docRows = withDocBucket(perDoc, g)
    val bandR = bandRows(perDoc, g)
    val changedSample =
      if (!checkChanged) Array.empty[org.apache.spark.sql.Row]
      else repo.table(schema, docsTable(name))
        .select(col("id"), col("dig").as("__old"))
        .join(perDoc.select(col("id"), col("dig")), Seq("id"))
        .filter(!(col("__old") <=> col("dig")))
        .select(col("id")).limit(5).collect() // bounded: ≤5
    if (changedSample.nonEmpty) {
      val shown = changedSample.map(_.get(0)).mkString(", ")
      throw new IllegalStateException(
        s"MinHashIndex.append($schema/$name): batch re-ingests ids whose " +
          s"content changed [$shown${if (changedSample.length == 5) ", …" else ""}] — " +
          "their stale band rows would survive in buckets this merge " +
          "never rewrites. Rebuild via MinHashIndex.write, or pass " +
          "checkChanged = false only for provably append-only feeds")
    }
    // bucket-clustering of the merged rewrite (touched directories come
    // back as one file, not per-task fragments that compound across
    // micro-batches) lives in the repo's partition-scoped merge engine
    // itself (r20) — shared by every index family. The two merges touch
    // DISJOINT tables (each with its own manifest-recorded crash
    // recovery), so they run OVERLAPPED (guide §2.6; a build with every
    // Par call sequential measured the corpus_dedup benchmark's
    // index-append p50 56% slower); the crash window is
    // unchanged — a replay re-merges both tables idempotently exactly as
    // it did when a crash fell between the sequential merges.
    graft.Par.run2(
      repo.mergePartitioned(docRows, schema, docsTable(name),
        keys = Seq("id", "dbucket"), partitionCols = Seq("dbucket")),
      repo.mergePartitioned(bandR, schema, bandsTable(name),
        keys = Seq("id", "band", "bh", "bucket"),
        partitionCols = Seq("bucket")))
  }

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

  /** Gate a daily batch: drop every batch row whose content is an exact
    * or near duplicate (estimated Jaccard ≥ `threshold`) of an INDEXED
    * document, without touching corpus text. Returns the surviving batch
    * rows with their original columns.
    *
    * Two probe paths, mirroring [[Dedup.minhashCandidates]]' threshold
    * algebra:
    *   - EXACT (always): the batch's 32-byte digests semi-join the
    *     indexed digest column — batch-sized broadcast against a
    *     two-thin-column scan. This is [[Dedup.dropKnown]]'s semantics
    *     served from the index (no corpus text scan), covers sub-shingle
    *     docs the sketch cannot, and at `threshold = 1.0` it is the
    *     WHOLE gate: distinct signatures cannot reach est 1.0, so the
    *     band branch is provably empty and is skipped — identical
    *     plan-shape reasoning to minhashCandidates' threshold skip,
    *     which also makes threshold-1.0 gating ≡ a NOT-EXISTS content
    *     anti-join (the registered query's DuckDB oracle).
    *   - NEAR (`threshold` below the sketch ceiling (n−1)/n): band
    *     collisions ([[bandCollisions]] — bucket-pruned, batch
    *     broadcast) are scored est ≥ threshold against materialized
    *     corpus signatures fetched for candidate ids only (semi-filter
    *     then join — candidate-sized, fixed-width). */
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
