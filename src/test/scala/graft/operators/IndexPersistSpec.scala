package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.PqRepo

/** Persisted ANN indexes (r11): the repo is the materialization layer —
  * build once, search many — and the persisted search paths must be
  * result-identical to the inline ones. */
class IndexPersistSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")

  private def topSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
      r.getAs[Int]("rank"))).toSet

  test("quantized index roundtrips and searches identically to inline") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_q8").toString)
    Similarity.writeQuantizedIndex(repo, emb, "vec_id", "embedding", "ann", "e")
    val coded = Similarity.readQuantizedIndex(repo, "ann", "e")
    // codes roundtrip exactly
    val inlineCodes = Similarity.quantize(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getSeq[Int](3))).toMap
    coded.collect().foreach { r =>
      val (qmin, qmax, cs) = inlineCodes(r.getLong(0))
      assert(r.getDouble(1) == qmin && r.getDouble(2) == qmax)
      assert(r.getSeq[Int](3) == cs)
    }
    val queries = emb.filter(col("vec_id") < 5)
    // partial-depth coarse cut over the persisted index ≡ inline path
    val persisted = topSet(Similarity.quantizedTopKIndexed(
      coded, emb, queries, "vec_id", "embedding", k = 4, rerankDepth = 50))
    val inline = topSet(Similarity.quantizedTopK(
      emb, queries, "vec_id", "embedding", k = 4, rerankDepth = 50))
    assert(persisted == inline && persisted.nonEmpty)
  }

  test("IVF index roundtrips (cluster-partitioned layout) and searches identically") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_ivf").toString)
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    Similarity.writeIvfIndex(repo, built, "ann", "e")

    // the persisted layout is one directory per cluster
    val dirs = new java.io.File(
      repo.tablePath("ann", "e_ivf").toUri.getPath).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster="))
    assert(dirs.nonEmpty, dirs.mkString(","))

    val index = Similarity.readIvfIndex(repo, "ann", "e")
    assert(index.centroids == built.centroids)

    val queries = emb.filter(col("vec_id") < 5)
    // both the exact (nprobe-all) and approximate (partial probe) searches
    // agree between the persisted and in-memory index
    Seq(8, 3).foreach { np =>
      val persisted = topSet(Similarity.ivfSearch(index, queries,
        "vec_id", "embedding", k = 4, nprobe = np))
      val inline = topSet(Similarity.ivfSearch(built, queries,
        "vec_id", "embedding", k = 4, nprobe = np))
      assert(persisted == inline && persisted.nonEmpty, s"nprobe=$np")
    }
  }

  test("appendToIvfIndex: batch lands in its clusters, search covers it, re-append is idempotent") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_app").toString)
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    val built = Similarity.ivfBuild(base, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    Similarity.writeIvfIndex(repo, built, "ann", "a")
    Similarity.appendToIvfIndex(repo, batch, "vec_id", "embedding", "ann", "a")
    val index = Similarity.readIvfIndex(repo, "ann", "a")
    assert(index.assigned.count() == emb.count())
    // exact (nprobe-all) search over the merged index covers the whole
    // corpus, appended rows included
    val queries = emb.filter(col("vec_id") < 5)
    val merged = topSet(Similarity.ivfSearch(index, queries,
      "vec_id", "embedding", k = 4, nprobe = 8))
    val exact = topSet(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 4))
    assert(merged == exact)
    // idempotent: re-appending the same batch changes nothing
    Similarity.appendToIvfIndex(repo, batch, "vec_id", "embedding", "ann", "a")
    assert(Similarity.readIvfIndex(repo, "ann", "a").assigned.count() == emb.count())
  }

  test("appendToQuantizedIndex: upsert by id, re-quantized rows replace") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_qapp").toString)
    Similarity.writeQuantizedIndex(repo, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", "ann", "q")
    Similarity.appendToQuantizedIndex(repo, emb.filter(col("vec_id") >= 100),
      "vec_id", "embedding", "ann", "q")
    val all = Similarity.readQuantizedIndex(repo, "ann", "q")
    assert(all.count() == emb.count())
    // upsert: re-appending an overlapping slice keeps one row per id
    Similarity.appendToQuantizedIndex(repo, emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", "ann", "q")
    val after = Similarity.readQuantizedIndex(repo, "ann", "q")
    assert(after.count() == emb.count())
    assert(after.select("vec_id").distinct().count() == emb.count())
  }

  /** (relative path → size, first/last bytes) for every data file under
    * the table — cheap byte-level fingerprint to prove untouched
    * partition files were never rewritten. */
  private def fileFingerprints(tableDir: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(tableDir)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getAbsolutePath.stripPrefix(tableDir.getAbsolutePath) ->
        (f.length(), f.lastModified()))
      .toMap
  }

  test("appendToQuantizedIndex rewrites ONLY the buckets the batch hashes into") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_q8b").toString)
    Similarity.writeQuantizedIndex(repo, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", "ann", "b", numBuckets = 8)
    // layout: hash-bucket dirs + the bucket-count sidecar
    val tableDir = new java.io.File(
      repo.tablePath("ann", "b_q8").toUri.getPath)
    assert(tableDir.listFiles().map(_.getName).count(_.startsWith("bucket=")) > 1)
    assert(repo.readTableMeta("ann", "b_q8").get("q8.numBuckets").contains("8"))

    val before = fileFingerprints(tableDir)
    // one-row batch: exactly one bucket dir may change
    val batchId = 150L
    val touched = spark.sql(s"SELECT pmod(xxhash64(CAST($batchId AS BIGINT)), 8)")
      .head().getLong(0)
    Similarity.appendToQuantizedIndex(repo,
      emb.filter(col("vec_id") === batchId), "vec_id", "embedding", "ann", "b")
    val after = fileFingerprints(tableDir)

    val untouchedBefore = before.filterNot(_._1.contains(s"/bucket=$touched/"))
    val untouchedAfter = after.filterNot(_._1.contains(s"/bucket=$touched/"))
    assert(untouchedBefore == untouchedAfter,
      "untouched bucket files must be byte-identical (same path/size/mtime)")
    assert(after.keySet.exists(_.contains(s"/bucket=$touched/")))
    // and the appended row is served
    val ids = Similarity.readQuantizedIndex(repo, "ann", "b")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseN = emb.filter(col("vec_id") < 100).count()
    assert(ids.contains(batchId) && ids.size == baseN + 1)
  }

  test("appendToQuantizedIndex bootstraps a missing index; refuses a legacy unbucketed one") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_q8l").toString)
    // bootstrap: first append IS the build (idempotent ingest loaders)
    Similarity.appendToQuantizedIndex(repo, emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", "ann", "boot")
    assert(Similarity.readQuantizedIndex(repo, "ann", "boot").count() == 50)
    assert(repo.readTableMeta("ann", "boot_q8").contains("q8.numBuckets"))
    // legacy layout (plain table, no sidecar): loud failure, not a silent
    // whole-index rewrite
    repo.write(Similarity.quantize(
      emb.filter(col("vec_id") < 50), "vec_id", "embedding"), "ann", "old_q8")
    val e = intercept[IllegalStateException] {
      Similarity.appendToQuantizedIndex(repo,
        emb.filter(col("vec_id") === 60), "vec_id", "embedding", "ann", "old")
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("appendToIvfIndex detects moved-cluster re-ingest and fails loudly") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_mv").toString)
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    Similarity.writeIvfIndex(repo, built, "ann", "m")
    // an existing id re-ingested with another cluster's embedding: the
    // batch assignment differs from the stored row's cluster
    val rows = built.assigned.select("id", "cluster").limit(200).collect()
    val (idA, cA) = (rows.head.getLong(0), rows.head.getInt(1))
    val other = rows.find(_.getInt(1) != cA).get.getLong(0)
    val movedBatch = emb.filter(col("vec_id") === other)
      .select(lit(idA).as("vec_id"), col("embedding"))
    val e = intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(repo, movedBatch,
        "vec_id", "embedding", "ann", "m")
    }
    assert(e.getMessage.contains("moved clusters"))
    // the aborted merge touched nothing: index unchanged
    assert(Similarity.readIvfIndex(repo, "ann", "m").assigned.count() == emb.count())
    // an append-only feed can skip the scan explicitly
    Similarity.appendToIvfIndex(repo, movedBatch,
      "vec_id", "embedding", "ann", "m", checkMoved = false)
    assert(Similarity.readIvfIndex(repo, "ann", "m")
      .assigned.count() == emb.count() + 1)
  }

  /** A persisted 8-centroid index `ann/<name>` with its (id, cluster)
    * rows, two populated clusters c1 < c2, and a one-row batch maker whose
    * vector is centroid c1 on its first evaluation and c2 on every later
    * one: a merge that re-evaluates the batch sees different rows in its
    * collect and in its write. */
  private def flipFlopIndex(name: String)
      : (PqRepo, Set[(Long, Int)], Int, Int, Long => org.apache.spark.sql.DataFrame) = {
    val repo = PqRepo(spark, Files.createTempDirectory(s"idx_$name").toString)
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    Similarity.writeIvfIndex(repo, built, "ann", name)
    val before = built.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSet
    val populated = before.map(_._2).toSeq.distinct.sorted
    val (c1, c2) = (populated(0), populated(1))
    val cent = built.centroids.toMap
    val (v1, v2) = (cent(c1).map(_.toFloat), cent(c2).map(_.toFloat))
    IndexPersistSpec.calls.set(0)
    val vec = udf(() =>
      if (IndexPersistSpec.calls.getAndIncrement() == 0) v1 else v2)
      .asNondeterministic()
    (repo, before, c1, c2,
      (id: Long) => spark.range(1).select(lit(id).as("vec_id"), vec().as("embedding")))
  }

  private def indexedPairs(repo: PqRepo, name: String): Array[(Long, Int)] =
    Similarity.readIvfIndex(repo, "ann", name).assigned
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1))

  test("appendToIvfIndex with a non-deterministic batch: the guard, the " +
    "collect and the write see the same rows") {
    val (repo, before, c1, _, batchOf) = flipFlopIndex("nd")
    val newId = 2000000L
    Similarity.appendToIvfIndex(repo, batchOf(newId), "vec_id", "embedding",
      "ann", "nd", checkMoved = false)
    val after = indexedPairs(repo, "nd")
    assert(before.subsetOf(after.toSet),
      s"${(before -- after.toSet).size} indexed rows lost")
    assert(after.count(_._1 == newId) == 1, after.filter(_._1 == newId).toSeq)
    assert(after.length == before.size + 1)
    assert(after.contains(newId -> c1))
  }

  test("reassignIvfIndex with a non-deterministic batch: the affected-" +
    "cluster collect and the write see the same rows") {
    val (repo, before, c1, _, batchOf) = flipFlopIndex("rnd")
    // re-ingest an id of cluster c1: unmoved on the first evaluation. A
    // batch evaluated once per use either leaves a stale row in c1 or
    // writes c2 from the batch row alone, depending on which use sees the
    // first evaluation
    val id = before.collectFirst { case (i, c) if c == c1 => i }.get
    Similarity.reassignIvfIndex(repo, batchOf(id), "vec_id", "embedding", "ann", "rnd")
    val after = indexedPairs(repo, "rnd")
    assert(before.subsetOf(after.toSet),
      s"${(before -- after.toSet).size} indexed rows lost")
    assert(after.count(_._1 == id) == 1, after.filter(_._1 == id).toSeq)
    assert(after.length == before.size)
  }

  test("reassignIvfIndex: moved ids land once in their new cluster, " +
    "untouched partitions stay byte-identical, search ≡ same-centroid rebuild") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_rsn").toString)
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    Similarity.writeIvfIndex(repo, built, "ann", "r")

    // a batch of three shapes: a MOVED id (re-ingested with an embedding
    // that assigns elsewhere), an UNMOVED re-ingest, and a NEW id
    val rows = built.assigned.select("id", "cluster").limit(400).collect()
    val (idMoved, cOld) = (rows.head.getLong(0), rows.head.getInt(1))
    val donor = rows.find(_.getInt(1) != cOld).get
    val idUnmoved = rows.find(r =>
      r.getLong(0) != idMoved && r.getLong(0) != donor.getLong(0))
      .get.getLong(0)
    val newId = 1000000L
    val batch = emb.filter(col("vec_id") === donor.getLong(0))
      .select(lit(idMoved).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === idUnmoved))
      .unionByName(emb.filter(col("vec_id") === donor.getLong(0))
        .select(lit(newId).as("vec_id"), col("embedding")))

    // the rewrite scope: clusters the batch assigns into + the moved
    // id's old cluster — everything else must stay byte-identical
    val cNew = donor.getInt(1)
    val cUnmoved = rows.find(_.getLong(0) == idUnmoved).get.getInt(1)
    val inScope = Set(cOld, cNew, cUnmoved)
    val tableDir = new java.io.File(repo.tablePath("ann", "r_ivf").toUri.getPath)
    val before = fileFingerprints(tableDir)

    Similarity.reassignIvfIndex(repo, batch, "vec_id", "embedding", "ann", "r")

    val untouched = (fp: Map[String, (Long, Long)]) =>
      fp.filterNot { case (p, _) => inScope.exists(c => p.contains(s"/cluster=$c/")) }
    assert(untouched(before) == untouched(fileFingerprints(tableDir)),
      "partitions outside the old/new cluster scope must not be rewritten")

    val after = Similarity.readIvfIndex(repo, "ann", "r")
    // exactly one row per id, and the moved id sits in its NEW cluster
    assert(after.assigned.count() == emb.count() + 1)
    assert(after.assigned.groupBy("id").count()
      .filter(col("count") > 1).count() == 0)
    val movedRow = after.assigned.filter(col("id") === idMoved).collect()
    assert(movedRow.length == 1 && movedRow.head.getAs[Int]("cluster") == cNew,
      s"moved id must sit in cluster $cNew, got ${movedRow.toSeq}")

    // search over the reassigned index ≡ an index rebuilt over the
    // updated corpus with the SAME (frozen) centroids — assignByJoin is
    // the specced-identical assignment twin, visible to this package
    val updatedCorpus = emb
      .filter(col("vec_id") =!= idMoved)
      .unionByName(batch.filter(col("vec_id").isin(idMoved, newId)))
    val rebuilt = Similarity.IvfIndex(built.centroids,
      Similarity.assignByJoin(
        updatedCorpus.select(col("vec_id").as("id"), col("embedding").as("v")),
        built.centroids))
    val queries = emb.filter(col("vec_id") < 5)
    val a = topSet(Similarity.ivfSearch(after, queries,
      "vec_id", "embedding", k = 4, nprobe = 8))
    val b = topSet(Similarity.ivfSearch(rebuilt, queries,
      "vec_id", "embedding", k = 4, nprobe = 8))
    assert(a == b && a.nonEmpty)
  }

  test("recallEstimate: exact paths read 1.0; partial probe matches an " +
    "independently computed sample recall and tracks the full-corpus recall") {
    val built = Similarity.ivfBuild(emb, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 1)
    val k = 4

    // probing every cluster IS brute force → the estimator must read 1.0
    val exact = Similarity.recallEstimate(emb, "vec_id", "embedding", k,
      sampleQueries = 50)(q =>
      Similarity.ivfSearch(built, q, "vec_id", "embedding", k, nprobe = 8))
    assert(exact.recall == 1.0 && exact.nQueries == 50 &&
      exact.hits == exact.possible, exact.toString)

    // partial probe: cross-check against a from-scratch recall over the
    // SAME deterministic sample (independent set arithmetic). 200 of the
    // 500 vectors: at k=4 that is 800 Bernoulli trials — enough for the
    // ±0.05 tracking assertion below (n=50 measured 0.078 off)
    val est = Similarity.recallEstimate(emb, "vec_id", "embedding", k,
      sampleQueries = 200)(q =>
      Similarity.ivfSearch(built, q, "vec_id", "embedding", k, nprobe = 2))
    val sample = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(200)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, sample,
      "vec_id", "embedding", k))
    val got = pairs(Similarity.ivfSearch(built, sample,
      "vec_id", "embedding", k, nprobe = 2))
    val direct = truth.intersect(got).size.toDouble / truth.size
    assert(math.abs(est.recall - direct) < 1e-9,
      s"estimator ${est.recall} != direct $direct on the same sample")

    // and the sampled estimate tracks the FULL query-set recall — the
    // production question it exists to answer (±0.05, deterministic here)
    val fullTruth = pairs(Similarity.bruteForceTopK(emb, emb,
      "vec_id", "embedding", k))
    val fullGot = pairs(Similarity.ivfSearch(built, emb,
      "vec_id", "embedding", k, nprobe = 2))
    val full = fullTruth.intersect(fullGot).size.toDouble / fullTruth.size
    assert(math.abs(est.recall - full) <= 0.05,
      s"sampled ${est.recall} vs full-corpus $full")

    // quantized path: full rerank depth is exact; a shallow coarse cut
    // still recalls most of the truth but is measurably below it
    val qFull = Similarity.recallEstimate(emb, "vec_id", "embedding", k,
      sampleQueries = 50)(q => Similarity.quantizedTopK(emb, q,
      "vec_id", "embedding", k, rerankDepth = Int.MaxValue))
    assert(qFull.recall == 1.0, qFull.toString)
    val qPart = Similarity.recallEstimate(emb, "vec_id", "embedding", k,
      sampleQueries = 50)(q => Similarity.quantizedTopK(emb, q,
      "vec_id", "embedding", k, rerankDepth = 8))
    assert(qPart.recall >= 0.8 && qPart.recall <= 1.0, qPart.toString)
  }

  test("bucket-scoped appends converge to the same index as a full rebuild") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_q8cv").toString)
    // random-ish disjoint batches by id residue, plus an overlapping
    // re-append: the incremental path must land exactly the rebuild state
    val b0 = emb.filter(col("vec_id") % 3 === 0)
    val b1 = emb.filter(col("vec_id") % 3 === 1)
    val b2 = emb.filter(col("vec_id") % 3 === 2)
    Similarity.writeQuantizedIndex(repo, b0, "vec_id", "embedding", "ann",
      "cv", numBuckets = 8)
    Similarity.appendToQuantizedIndex(repo, b1, "vec_id", "embedding", "ann", "cv")
    Similarity.appendToQuantizedIndex(repo, b2, "vec_id", "embedding", "ann", "cv")
    Similarity.appendToQuantizedIndex(repo, b1, "vec_id", "embedding", "ann", "cv")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getSeq[Int](3)))
      .toMap
    val incremental = asMap(Similarity.readQuantizedIndex(repo, "ann", "cv"))
    val rebuilt = asMap(Similarity.quantize(emb, "vec_id", "embedding"))
    assert(incremental == rebuilt)
  }

  test("hive-layout write promotes atomically: no tmp dir left, table readable") {
    val repo = PqRepo(spark, Files.createTempDirectory("idx_part").toString)
    val built = Similarity.ivfBuild(emb.limit(100), "vec_id", "embedding",
      numCentroids = 4)
    Similarity.writeIvfIndex(repo, built, "ann", "p")
    val schemaDir = new java.io.File(
      repo.tablePath("ann", "p_ivf").toUri.getPath).getParentFile
    assert(!schemaDir.listFiles().map(_.getName).exists(_.startsWith("_tmp_")),
      schemaDir.listFiles().map(_.getName).mkString(","))
    assert(repo.table("ann", "p_ivf").count() == 100)
  }
}

object IndexPersistSpec {
  /** Call counter of the non-deterministic batch UDF: an object field, so
    * the local-mode tasks share it instead of a serialized copy. */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
