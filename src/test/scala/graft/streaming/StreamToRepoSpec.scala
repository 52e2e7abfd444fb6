package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PqRepo

/** Exactly-once streaming → repo landing: the ledger skips re-delivered
  * batches outright, and the crash window between merge-promote and
  * marker-create is covered by key-merge idempotency — a re-delivered
  * micro-batch lands zero rows twice under either failure. */
class StreamToRepoSpec extends SparkSpec {

  private def freshRepo = PqRepo(spark,
    Files.createTempDirectory("graft_stream_repo").toString)

  private def batch(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("user_id", "start_epoch", "n_events")
  }

  test("batches land once; a re-delivered batch id is skipped entirely") {
    val repo = freshRepo
    val sink = StreamToRepo.mergeSink(repo, "s", "t",
      keys = Seq("user_id", "start_epoch"))
    sink(batch(Seq((1L, 100L, 3L), (2L, 200L, 4L))), 0L)
    sink(batch(Seq((3L, 300L, 5L))), 1L)
    assert(repo.table("s", "t").count() == 3)
    assert(StreamToRepo.committedBatches(repo, "s", "t") == Seq(0L, 1L))
    // re-delivery after restart: same id, POISONED content (extra row) —
    // the ledger must skip it without reading the data, so the poison
    // proves the skip rather than relying on merge idempotency
    sink(batch(Seq((9L, 900L, 9L))), 1L)
    assert(repo.table("s", "t").count() == 3)
    assert(repo.table("s", "t").filter(col("user_id") === 9L).count() == 0)
  }

  test("kill-and-replay crash window: merge promoted, marker lost — " +
    "the replayed batch lands zero rows twice") {
    val repo = freshRepo
    val sink = StreamToRepo.mergeSink(repo, "s", "t",
      keys = Seq("user_id", "start_epoch"))
    sink(batch(Seq((1L, 100L, 3L))), 0L)
    val b1 = Seq((2L, 200L, 4L), (3L, 300L, 5L))
    sink(batch(b1), 1L)
    // simulate the crash AFTER merge promoted but BEFORE the marker
    // landed: delete batch 1's marker, as if the process died in between
    val ledger = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(repo.dataDir, "s"), "_ledger_t")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(ledger, f"batch-${1L}%020d")
    assert(fs.delete(marker, false), "marker must exist before the kill")
    assert(StreamToRepo.committedBatches(repo, "s", "t") == Seq(0L))
    val before = repo.table("s", "t").orderBy("user_id", "start_epoch")
      .collect().toSeq
    // Structured Streaming replays the SAME batch content after restart:
    // the sink re-merges it (ledger has no marker), and the key-replace
    // merge makes that a no-op on the row set
    sink(batch(b1), 1L)
    val after = repo.table("s", "t").orderBy("user_id", "start_epoch")
      .collect().toSeq
    assert(after == before, "replayed batch changed the landed row set")
    assert(after.size == 3)
    assert(StreamToRepo.committedBatches(repo, "s", "t") == Seq(0L, 1L))
  }

  test("merge semantics across batches: same key updates, new key appends") {
    val repo = freshRepo
    val sink = StreamToRepo.mergeSink(repo, "s", "t",
      keys = Seq("user_id", "start_epoch"))
    sink(batch(Seq((1L, 100L, 3L))), 0L)
    // a later batch extends session (1, 100) and opens (1, 500)
    sink(batch(Seq((1L, 100L, 7L), (1L, 500L, 1L))), 1L)
    val rows = repo.table("s", "t").orderBy("start_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 100L, 7L), (1L, 500L, 1L)))
  }

  test("routeSink: slices land in their tables; one marker covers the " +
    "batch; mid-routes crash replay lands zero rows twice") {
    val repo = freshRepo
    val sink = StreamToRepo.routeSink(repo, "s",
      routes = Seq(
        "multi" -> (col("n_events") >= 2L),
        "single" -> (col("n_events") === 1L)),
      keys = Seq("user_id", "start_epoch"))
    val b0 = Seq((1L, 100L, 3L), (2L, 200L, 1L), (3L, 300L, 5L))
    sink(batch(b0), 0L)
    assert(repo.table("s", "multi").count() == 2)
    assert(repo.table("s", "single").count() == 1)
    assert(StreamToRepo.committedBatches(repo, "s", "multi+single") ==
      Seq(0L))
    // crash between the routes' merges and the marker: delete the marker
    // and replay the identical batch — both tables' row sets unchanged
    val ledger = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(repo.dataDir, "s"), "_ledger_multi+single")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(ledger, f"batch-${0L}%020d"), false))
    sink(batch(b0), 0L)
    assert(repo.table("s", "multi").count() == 2)
    assert(repo.table("s", "single").count() == 1)
    // re-delivery with the marker present: poisoned content is skipped
    sink(batch(Seq((9L, 900L, 9L))), 0L)
    assert(repo.table("s", "multi")
      .filter(col("user_id") === 9L).count() == 0)
  }

  test("routeSink scans the batch source ONCE however many routes, and a " +
    "row matching several predicates still lands in every matching table") {
    import spark.implicits._
    val repo = freshRepo
    // accumulator-instrumented source: every row that flows out of the
    // batch's upstream plan bumps the counter, so N-route re-scans would
    // read N× the row count — the r18 routeSink shape did exactly that
    val scans = spark.sparkContext.longAccumulator("route_src_rows")
    val rows = Seq((1L, 100L, 3L), (2L, 200L, 1L), (3L, 300L, 2L))
    val counted = rows.toDS()
      .mapPartitions { it => it.map { r => scans.add(1); r } }
      .toDF("user_id", "start_epoch", "n_events")
    val sink = StreamToRepo.routeSink(repo, "s",
      routes = Seq(
        "multi" -> (col("n_events") >= 2L),
        "single" -> (col("n_events") === 1L),
        "audit" -> lit(true)), // overlaps both: the multi-match case
      keys = Seq("user_id", "start_epoch"))
    sink(counted, 0L)
    assert(scans.value == rows.size,
      s"route source rows read ${scans.value} times for ${rows.size} rows " +
        "— the tagged batch must be cached, not re-scanned per route")
    assert(repo.table("s", "multi").count() == 2)
    assert(repo.table("s", "single").count() == 1)
    // multi-match semantics preserved: every row ALSO landed in audit
    assert(repo.table("s", "audit").count() == 3)
  }

  test("mergeSink with partitionCols routes through the partition-scoped " +
    "merge (untouched partitions keep their files)") {
    import spark.implicits._
    val repo = freshRepo
    val sink = StreamToRepo.mergeSink(repo, "s", "t",
      keys = Seq("day", "user_id"), partitionCols = Seq("day"))
    def b(rows: Seq[(String, Long, Long)]) =
      rows.toDF("day", "user_id", "n_events")
    sink(b(Seq(("d1", 1L, 2L), ("d2", 2L, 3L))), 0L)
    val d1File = new java.io.File(s"${repo.dataDir}/s/t.parquet/day=d1")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // batch 1 touches only d2 — d1's physical files must survive untouched
    sink(b(Seq(("d2", 2L, 7L), ("d2", 5L, 1L))), 1L)
    val d1After = new java.io.File(s"${repo.dataDir}/s/t.parquet/day=d1")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(d1After == d1File, "untouched partition was rewritten")
    val rows = repo.table("s", "t")
      .orderBy("day", "user_id")
      .collect().map(r => (r.getAs[String]("day"),
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSeq
    assert(rows == Seq(("d1", 1L, 2L), ("d2", 2L, 7L), ("d2", 5L, 1L)))
  }

  test("ledgeredSink + appendToIvfIndex: a re-delivered batch appends " +
    "zero rows — marker fast path AND the landed-but-unmarked crash window") {
    import spark.implicits._
    import graft.operators.Similarity
    val repo = freshRepo
    // two well-separated clusters so assignment is deterministic
    val base = (0L until 20L)
      .map(i => (i, Array(if (i % 2 == 0) 1f else -1f, i.toFloat / 100 + 1, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val built = Similarity.ivfBuild(base, "vec_id", "embedding",
      numCentroids = 2, kmeansIters = 2)
    Similarity.writeIvfIndex(repo, built, "ann", "emb")
    val sink = StreamToRepo.ledgeredSink(repo, "ann", "ingest") { b =>
      Similarity.appendToIvfIndex(repo, b, "vec_id", "embedding", "ann", "emb")
    }
    def indexRows = repo.table("ann", "emb_ivf")
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    val batch = Seq(
      (100L, Array(1f, 1.5f, 0f, 0f)),
      (101L, Array(-1f, 1.5f, 0f, 0f))).toDF("vec_id", "embedding")
    sink(batch, 0L)
    val after = indexRows
    assert(after.size == 22 && after.contains(100L) && after.contains(101L))
    // crash window: the append landed but the marker was lost — the
    // replayed identical batch re-assigns to the SAME clusters (moved-id
    // guard passes) and the (id, cluster) key-merge lands zero new rows
    val ledger = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(repo.dataDir, "ann"), "_ledger_ingest")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(ledger, f"batch-${0L}%020d"), false))
    sink(batch, 0L)
    assert(indexRows == after, "crash-window replay changed the index")
    // marker fast path: poisoned re-delivery under an existing marker is
    // skipped without reading the data
    sink(Seq((999L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"), 0L)
    assert(!indexRows.contains(999L))
  }

  test("stream -> compact -> search: nprobe-all stays == brute force and " +
    "cluster dirs consolidate to one file (r20, verdict #5)") {
    import spark.implicits._
    import graft.operators.Similarity
    val repo = freshRepo
    def vec(i: Long): Array[Float] = Array(
      if (i % 2 == 0) 1f else -1f, i.toFloat / 100 + 1,
      (i % 7).toFloat / 10, (i % 3).toFloat / 10)
    val base = (0L until 20L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(repo,
      Similarity.ivfBuild(base, "vec_id", "embedding",
        numCentroids = 2, kmeansIters = 2), "ann", "emb")
    val sink = StreamToRepo.ledgeredSink(repo, "ann", "ingest") { b =>
      Similarity.appendToIvfIndex(repo, b, "vec_id", "embedding", "ann", "emb")
    }
    // three micro-batches, each touching both clusters. Since r20 the
    // repo's partition-scoped merge clusters its rewrite on the
    // partition column, so streamed ingest itself no longer fragments —
    // fragmentation at scale now comes from maxRecordsPerFile splitting
    // inside large partitions, so the pre-compact state is constructed
    // that way explicitly below.
    (0 until 3).foreach { bi =>
      sink((0 until 4).map { j => val id = 100L + bi * 10 + j; (id, vec(id)) }
        .toDF("vec_id", "embedding"), bi.toLong)
    }
    // re-lay the index with a 3-row file cap: the many-small-files state
    // a long-lived table accumulates (here from file-size bounding; the
    // search-identity and compact assertions below are layout-agnostic)
    repo.write(repo.table("ann", "emb_ivf"), "ann", "emb_ivf",
      partitionCols = Seq("cluster"), maxRecordsPerFile = Some(3L))
    val queries = Seq(
      (900L, Array(0.9f, 1.2f, 0.3f, 0.1f)),
      (901L, Array(-0.8f, 1.4f, 0.2f, 0.2f)),
      (902L, Array(1f, 1.05f, 0.6f, 0.05f))).toDF("vec_id", "embedding")
    def searchRows(): Set[String] = {
      val idx = Similarity.readIvfIndex(repo, "ann", "emb")
      Similarity.ivfSearch(idx, queries, "vec_id", "embedding", k = 5,
        nprobe = idx.centroids.size).collect().map(_.toString).toSet
    }
    val corpus = base.unionByName(
      (0 until 3).flatMap(bi => (0 until 4).map { j =>
        val id = 100L + bi * 10 + j; (id, vec(id)) })
        .toDF("vec_id", "embedding"))
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 5).collect().map(_.toString).toSet
    val before = searchRows()
    assert(before == brute, "pre-compact nprobe-all != brute force")
    val root = new java.io.File(
      repo.tablePath("ann", "emb_ivf").toUri.getPath)
    def filesPerCluster(): Map[String, Int] =
      root.listFiles().filter(_.getName.startsWith("cluster="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val fragmented = filesPerCluster()
    assert(fragmented.values.exists(_ > 1),
      s"expected multi-file cluster dirs before compact: $fragmented")
    repo.compact("ann", "emb_ivf", targetPartitions = Some(1))
    val compacted = filesPerCluster()
    assert(compacted.keySet == fragmented.keySet,
      "compact must preserve the cluster partition layout")
    assert(compacted.values.forall(_ == 1),
      s"expected one file per cluster dir after compact: $compacted")
    assert(searchRows() == brute, "compact changed search results")
    // and the compacted index still ingests: the next streamed batch
    // merges normally and remains searchable
    sink(Seq((300L, vec(300L))).toDF("vec_id", "embedding"), 99L)
    val idx = Similarity.readIvfIndex(repo, "ann", "emb")
    assert(idx.assigned.filter(col("id") === 300L).count() == 1)
  }

  test("ledger pruning drops only ids below the keep horizon") {
    val repo = freshRepo
    val sink = StreamToRepo.mergeSink(repo, "s", "t", keys = Seq("user_id"))
    (0L to 4L).foreach(i => sink(batch(Seq((i, i * 10, 1L))), i))
    StreamToRepo.pruneLedger(repo, "s", "t", keepFrom = 3L)
    assert(StreamToRepo.committedBatches(repo, "s", "t") == Seq(3L, 4L))
    // pruned ids are older than any possible replay; newer ids still skip
    sink(batch(Seq((99L, 990L, 9L))), 3L)
    assert(repo.table("s", "t").filter(col("user_id") === 99L).count() == 0)
  }
}
