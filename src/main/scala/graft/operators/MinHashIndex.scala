package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.functions.MinHash
import graft.functions.expressions.VectorKernels
import graft.sources.{KeyedAppend, PqRepo}
import graft.sources.KeyedAppend.inSet

/** Persisted MinHash band index — the near-dup twin of the embedding
  * index lifecycle ([[Similarity.writeIvfIndex]] /
  * [[Similarity.appendToIvfIndex]]). [[Dedup.dropKnown]] gates a daily
  * batch against exact corpus CONTENT without a corpus scan; this index
  * does the same for near duplicates ([[Dedup.minhashPairs]] semantics),
  * which would otherwise re-sign and re-band the whole corpus on every
  * run. It signs the corpus ONCE and persists the signatures and band
  * buckets through the repo's atomic temp-write/promote/manifest layer.
  * From then on a daily batch pays only batch-sized work:
  *   - [[dropNearKnown]] signs the batch, collects it to the driver and
  *     probes the index there: one pruned, filtered scan of the band
  *     table for colliding band hashes, one of the docs table for digest
  *     hits and candidate signatures, scored on the driver. The probe
  *     runs when the gate is called, and the batch must fit on the
  *     driver (`spark.driver.maxResultSize`);
  *   - [[append]] signs and collects the batch the same way and lands
  *     it in each table through the repo's keyed append
  *     ([[graft.sources.KeyedAppend]], shared with the embedding
  *     indexes): one pruned, filtered scan per table probes for the
  *     batch's keys, and rows the index does not hold land as new files
  *     renamed into their partitions (no current row is read or
  *     rewritten), so tomorrow's batch gates against today's too.
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
  *     its own band hashes, derives the SAME bucket values, and its
  *     scan of the band table prunes to just those partition
  *     directories.
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

  private[operators] def docsTable(name: String) = s"${name}_mhdocs"
  private[operators] def bandsTable(name: String) = s"${name}_mhbands"

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

  /** The band-table partition of a band hash. A probe recomputes it from
    * its own hashes, so its scan prunes to the batch's buckets. */
  private def bandBucket(band: Column, bh: Column, g: Geometry): Column =
    pmod(xxhash64(band, bh), lit(g.buckets)).cast("int")

  /** One scan's worth of per-doc index rows: (id, sig, dig). The
    * signature is the fused native kernel [[Dedup]]'s pipelines use
    * (byte-window shingling, zero per-shingle allocation); the digest is
    * computed in the SAME projection, so signing a corpus for the index
    * costs exactly one text pass. Null/short texts keep a null sig. */
  private[operators] def signed(docs: DataFrame, idCol: String,
      textCol: String, g: Geometry): DataFrame =
    Dedup.fanOut(
      docs.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        MinHash.signature(col("__t"), g.shingleK, g.numHashes).as("sig"),
        MinHash.contentDigest(col("__t")).as("dig"))

  private[operators] def withDocBucket(perDoc: DataFrame, g: Geometry): DataFrame =
    perDoc.withColumn("dbucket",
      pmod(xxhash64(col("id")), lit(g.buckets)).cast("int"))

  /** Band-bucket rows of a signed frame: r-row band hashes, bucketed by
    * [[bandBucket]]. Unsigned (null-sig) docs emit no rows. */
  private[operators] def bandRows(perDoc: DataFrame, g: Geometry): DataFrame =
    perDoc.filter(col("sig").isNotNull)
      .select(col("id"),
        posexplode(MinHash.bandHashes(col("sig"), g.bands, g.rows))
          .as(Seq("band", "bh")))
      .withColumn("bucket", bandBucket(col("band"), col("bh"), g))

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
    // [[graft.sources.PqRepo.write]] itself (r20), shared by
    // every index family. The two tables are disjoint outputs reading the
    // same checkpointed signature blocks — written OVERLAPPED (guide
    // §2.6) so the per-job floor is paid once, not twice.
    graft.Par.run2(
      repo.write(withDocBucket(perDoc, geometry), schema, docsTable(name),
        metaProps = Some(geometry.props), partitionCols = Seq("dbucket")),
      repo.write(bandRows(perDoc, geometry), schema, bandsTable(name),
        partitionCols = Seq("bucket")))
  }

  /** Incrementally APPEND a batch under the frozen geometry — the daily
    * near-dup-ingest primitive. Its cost follows the batch, not the
    * index:
    *   1. the batch is signed and collected once (one job; it must fit on
    *      the driver, the bound [[dropNearKnown]] places on the same
    *      batch);
    *   2. one pruned, filtered scan of each table collects the index rows
    *      that hold one of the batch's keys: `_mhdocs` by `dbucket` and
    *      `id`, `_mhbands` by `bucket`, `bh` and `id`;
    *   3. each table lands its rows through the repo's keyed append
    *      ([[KeyedAppend]]), from its own probe: a key the table does not
    *      hold lands as new files, a key it holds with exactly the same
    *      rows drops out (an unchanged re-ingest), and any other hit,
    *      like every null id, rewrites its partition.
    *
    * The result is the partition-scoped merge keyed on `(id, dbucket)`
    * and `(id, band, bh, bucket)`: append is idempotent, and
    * `append(A); append(B)` ≡ `write(A ∪ B)` row-for-row
    * (MinHashIndexSpec pins both; IndexAppendSpec checks random
    * sequences against the merge it replaced). Each table commits on its
    * own, and a crash between the two commits heals when the batch is
    * replayed: the committed table finds its rows already indexed.
    *
    * A re-ingested id whose TEXT changed would leave stale band rows in
    * buckets the new text never hashes into. `checkChanged` (default on)
    * compares the batch's digests with the indexed ones of the same ids
    * and fails loudly on any mismatch before anything is written;
    * re-sign via [[write]] or feed provably append-only batches with
    * `checkChanged = false`, under which a changed id rewrites its
    * `dbucket`. */
  def append(
      repo: PqRepo,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      schema: String,
      name: String,
      checkChanged: Boolean = true): Unit = {
    val g = geometry(repo, schema, name)
    // the probes must see every indexed row: heal a crashed earlier
    // commit first, as the merge engine would
    Seq(docsTable(name), bandsTable(name)).foreach(repo.recover(schema, _))
    val docsIdx = repo.table(schema, docsTable(name))
    val bandsIdx = repo.table(schema, bandsTable(name))
    // ids take the index's type, so the probes' matches compare like values
    val idField = docsIdx.schema("id")
    val docs = withDocBucket(
      batch.select(col(idCol).cast(idField.dataType).as("id"), col(textCol).as("__t"))
        .select(col("id"),
          MinHash.signature(col("__t"), g.shingleK, g.numHashes).as("sig"),
          MinHash.contentDigest(col("__t")).as("dig")), g)
    val rows = docs.withColumn("bands", bandKeys(col("sig"), g))
      .collect() // bounded: the batch (see scaladoc)
    if (rows.isEmpty) return
    def local(rs: Seq[Row], rowType: StructType) =
      batch.sparkSession.createDataFrame(java.util.Arrays.asList(rs: _*), rowType)
    val docsIn = new KeyedAppend(repo, schema, docsTable(name), docsIdx,
      local(rows.toSeq.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3))), docs.schema),
      key = Seq("id", "dbucket"), partition = "dbucket",
      // the signature is a function of the digest, which stands for both
      same = Seq("id", "dig", "dbucket"))
    val bandKey = Seq("id", "band", "bh", "bucket")
    val bandsIn = new KeyedAppend(repo, schema, bandsTable(name), bandsIdx,
      local(rows.toSeq.filter(!_.isNullAt(1)).flatMap(r => r.getSeq[Row](4)
        .map(b => Row(r.get(0), b.getInt(0), b.getLong(1), b.getInt(2)))),
        StructType(Seq(idField, StructField("band", IntegerType),
          StructField("bh", LongType), StructField("bucket", IntegerType)))),
      key = bandKey, partition = "bucket", same = bandKey)
    // the two tables are probed, and later land, OVERLAPPED (guide §2.6):
    // with the probes and the writes each run one after the other, the
    // corpus_dedup benchmark's append p50 measured 39% slower
    val (storedDocs, storedBands) = graft.Par.run2(
      docsIn.probe(inSet(col("dbucket"), docsIn.values("dbucket"))),
      bandsIn.probe(inSet(col("bucket"), bandsIn.values("bucket")) &&
        inSet(col("bh"), bandsIn.values("bh"))))
    if (checkChanged) {
      // an indexed row of the same id with another digest (null-safe)
      val storedDigs = storedDocs.groupMap(_.head)(docsIn.value(_, "dig"))
      val changed = docsIn.rows.iterator
        .filter(r => storedDigs.get(r.head).exists(_.exists(_ != docsIn.value(r, "dig"))))
        .map(_.head).distinct.take(5).toSeq
      if (changed.nonEmpty)
        throw new IllegalStateException(
          s"MinHashIndex.append($schema/$name): batch re-ingests ids whose " +
            s"content changed [${changed.mkString(", ")}" +
            s"${if (changed.length == 5) ", …" else ""}] — their stale band " +
            "rows would survive in buckets this append never rewrites. " +
            "Rebuild via MinHashIndex.write, or pass checkChanged = false " +
            "only for provably append-only feeds")
    }
    graft.Par.run2(docsIn.land(storedDocs), bandsIn.land(storedBands))
  }

  /** The band keys of a signature, one `(band, bh, bucket)` struct per
    * band: the rows [[bandRows]] indexes, as one array per doc. */
  private def bandKeys(sig: Column, g: Geometry): Column =
    transform(MinHash.bandHashes(sig, g.bands, g.rows), (bh, band) =>
      struct(band.as("band"), bh.as("bh"), bandBucket(band, bh, g).as("bucket")))

  /** Gate a daily batch: drop every batch row whose content is an exact
    * or near duplicate (estimated Jaccard ≥ `threshold`) of an INDEXED
    * document, without touching corpus text. Returns the surviving batch
    * rows with their original columns; rows with a null id always
    * survive.
    *
    * The probe runs on the driver when this method is called, and the
    * returned frame only filters `batch` by the dropped ids. It runs at
    * most one Spark job to sign the batch and one per index table it
    * reads:
    *   1. the batch's ids and SHA-256 digests (plus, on the near path,
    *      signatures and band keys — the expressions [[write]] indexed
    *      with) are collected once. The batch must fit on the driver:
    *      `spark.driver.maxResultSize` bounds it, the same size bound the
    *      gate had when it joined the batch on the executors;
    *   2. near path only: one scan of `_mhbands`, pruned to the buckets
    *      the batch hashes into and filtered to its band hashes, collects
    *      the colliding `(id, band, bh)` rows, matched to batch ids on
    *      `(band, bh)`;
    *   3. one scan of `_mhdocs` collects the rows whose digest is a batch
    *      digest (exact drops, which also cover sub-shingle docs the
    *      sketch cannot) or whose id is a candidate. Each candidate
    *      signature is scored against EVERY signature of the batch id
    *      (duplicate ids can carry different texts) with the kernel
    *      [[MinHash.estJaccard]] runs.
    *
    * At `threshold = 1.0` only the digests decide: distinct signatures
    * cannot reach est 1.0, so the sketch and step 2 are skipped, and
    * threshold-1.0 gating is a NOT-EXISTS content anti-join (the
    * registered query's DuckDB oracle). The near path runs for
    * thresholds at or below the sketch ceiling (n−1)/n. */
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
    val keyed = batch.select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(col("id").isNotNull)
    val digCol = MinHash.contentDigest(col("__t")).as("dig")
    val probed =
      if (!needNear) keyed.select(col("id"), digCol)
      else keyed.select(col("id"), digCol,
          MinHash.signature(col("__t"), g.shingleK, g.numHashes).as("sig"))
        .withColumn("bands", bandKeys(col("sig"), g))
    val rows = probed.collect() // bounded: the batch (see scaladoc)
    def dig(r: Row): Option[ArraySeq[Byte]] =
      Option(r.getAs[Array[Byte]]("dig")).map(ArraySeq.unsafeWrapArray(_))
    val batchDigs = rows.flatMap(dig).toSet
    // (id, signature, band keys) of every signed batch row
    val signedRows =
      if (!needNear) Nil
      else rows.toSeq.filter(!_.isNullAt(2)).map(r =>
        (r.get(0), sigData(r.getSeq[Long](2)),
          r.getSeq[Row](3).map(b => (b.getInt(0), b.getLong(1), b.getInt(2)))))
    // batch id → colliding corpus ids, over all of the id's signatures
    val cand: Map[Any, Set[Any]] =
      if (signedRows.isEmpty) Map.empty
      else {
        val byBand = signedRows
          .flatMap { case (id, _, bands) => bands.map(b => (b._1, b._2) -> id) }
          .groupMap(_._1)(_._2)
        val hits = repo.table(schema, bandsTable(name))
          .filter(inSet(col("bucket"), signedRows.flatMap(_._3.map(_._3))) &&
            inSet(col("bh"), byBand.keys.map(_._2)))
          .select(col("id"), col("band"), col("bh"))
          .collect() // bounded: band rows colliding with the batch
        hits.iterator
          .flatMap(h => byBand.getOrElse((h.getInt(1), h.getLong(2)), Nil)
            .map(_ -> h.get(0)))
          .toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      }
    val candIds = cand.valuesIterator.flatten.toSet
    val docsHit =
      if (batchDigs.isEmpty && candIds.isEmpty) Array.empty[Row]
      else repo.table(schema, docsTable(name))
        .filter(inSet(col("dig"), batchDigs.map(_.toArray)) ||
          inSet(col("id"), candIds))
        .select((Seq(col("id"), col("dig")) ++
          (if (needNear) Seq(col("sig")) else Nil)): _*)
        .collect() // bounded: digest hits and candidates of the batch
    val knownDigs = docsHit.flatMap(dig).toSet
    val exactDrops = rows.iterator.filter(dig(_).exists(knownDigs)).map(_.get(0))
    val corpusSigs =
      if (!needNear) Map.empty[Any, Seq[UnsafeArrayData]]
      else docsHit.toSeq.filter(!_.isNullAt(2))
        .groupMap(_.get(0))(r => sigData(r.getSeq[Long](2)))
    val nearDrops = signedRows.iterator.collect {
      case (id, bsig, _) if cand.getOrElse(id, Set.empty).exists(c =>
          corpusSigs.getOrElse(c, Nil).exists(csig =>
            VectorKernels.slotAgreement(bsig, csig).toDouble /
              bsig.numElements().toDouble >= threshold)) => id
    }
    val drops = (exactDrops ++ nearDrops).toSet
    batch.filter(!coalesce(inSet(col(idCol), drops), lit(false)))
  }

  private def sigData(sig: Seq[Long]): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(sig.toArray)
}
