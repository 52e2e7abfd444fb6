package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.PqRepo

/** Exactly-once streaming → repo landing: a `foreachBatch` sink that
  * lands each micro-batch through [[PqRepo.merge]] (flat, or
  * partition-scoped with `partitionCols`) guarded by a batch-id
  * idempotency LEDGER, so a restarted stream cannot double-land the
  * micro-batch Structured Streaming re-delivers after a crash. Every
  * sink here is an instance of [[ledgeredSink]], the one place a ledger
  * marker is created.
  *
  * Why the plain parquet sink isn't enough: the file sink's
  * exactly-once guarantee holds only INSIDE its own checkpointed
  * output directory — landing results into a repo table (the
  * reference's managed `<schema>/<table>.parquet` layout, with merge
  * semantics, schema metadata, archival) happens outside that
  * checkpoint, and `foreachBatch` is documented at-least-once: after a
  * restart the last batch replays with the SAME `batchId`.
  *
  * Two independent layers make the replay land zero rows twice:
  *
  *   1. **Ledger** (fast path): one zero-byte marker file per committed
  *      batch id under `<schema>/_ledger_<table>/batch-<id>` — NEXT TO
  *      the table dir, not inside it, because the repo's copy-on-write
  *      promote replaces the table directory wholesale. Marker creation
  *      is a single atomic filesystem create AFTER the merge commits;
  *      a re-delivered batch whose marker exists is skipped without
  *      reading its data. The `_` prefix hides the dir from any reader
  *      that lists the schema.
  *   2. **Key-idempotent merge** (crash window): if the process dies
  *      after the merge committed but before the marker landed, the
  *      replay re-merges the identical batch — and [[PqRepo.merge]]
  *      replaces rows by key, so re-merging the same rows is a no-op on
  *      the table's contents. A crash inside the merge itself is healed
  *      by the replay's own [[PqRepo.recover]] (StreamToRepoSpec walks
  *      every step of a landing).
  *
  * Scale shape: a flat merge is copy-on-write over the table — fine for
  * aggregate-sized results (closed sessions, per-window stats), wrong
  * for a 100 TB fact table; pass `partitionCols` (the table's own) and
  * the merge rewrites only the hive partitions the batch touches (its
  * `_merge_manifest.json` crash protocol makes each partition swap
  * resumable). The ledger dir accumulates one empty file per batch —
  * prune with [[pruneLedger]] once batches are older than any possible
  * replay (Spark replays at most the batches after the last checkpoint
  * commit). */
object StreamToRepo {

  private def ledgerPath(repo: PqRepo, schema: String, table: String): Path =
    new Path(new Path(repo.dataDir, schema), s"_ledger_$table")

  private def fs(repo: PqRepo, p: Path): FileSystem =
    p.getFileSystem(repo.spark.sparkContext.hadoopConfiguration)

  private def markerPath(repo: PqRepo, schema: String, table: String,
      batchId: Long): Path =
    new Path(ledgerPath(repo, schema, table), f"batch-$batchId%020d")

  /** Batch ids the ledger records as fully landed, ascending. */
  def committedBatches(repo: PqRepo, schema: String, table: String): Seq[Long] = {
    val dir = ledgerPath(repo, schema, table)
    val f = fs(repo, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch-") => n.stripPrefix("batch-").toLong }
      .sorted
  }

  /** Drop ledger markers for batch ids strictly below `keepFrom` — call
    * with a batch id old enough that Structured Streaming can no longer
    * replay it (anything before the last committed checkpoint batch). */
  def pruneLedger(repo: PqRepo, schema: String, table: String,
      keepFrom: Long): Unit = {
    val f = fs(repo, ledgerPath(repo, schema, table))
    committedBatches(repo, schema, table).filter(_ < keepFrom)
      .foreach(id => f.delete(markerPath(repo, schema, table, id), false))
  }

  /** Multi-table ROUTING sink: each micro-batch splits by the route
    * predicates and every slice lands in its own repo table through the
    * same merge protocol — ingest-time curation (accept/reject/
    * quarantine tables) with the exactly-once guarantee intact. ONE
    * ledger marker covers the whole batch, created only after EVERY
    * route merged: a crash mid-routes replays all routes, and key-merge
    * idempotency makes the replayed slices row-set no-ops on tables
    * that already landed them (the [[mergeSink]] crash-window argument,
    * per route). Routes are explicit (table, predicate) pairs — no
    * per-batch distinct scan, no unbounded table creation; rows
    * matching no predicate are dropped (add a catch-all route to keep
    * them). The ledger lives beside the FIRST route's table under a
    * name derived from all route tables, so two different route sets
    * over the same schema cannot share markers.
    *
    * Single source scan (r19): the batch is tagged ONCE with the array
    * of routes each row matches (every predicate evaluated in one
    * projection — one pass over the source, however many routes) and
    * persisted; the per-table merges then filter the CACHED tagged
    * frame on `array_contains`, never re-running the batch's upstream
    * plan. The old shape re-scanned the source once per route — fine at
    * 2 routes, N full passes at an N-way quarantine fan-out. Multi-match
    * semantics are unchanged: a row matching several predicates still
    * lands in every matching table. */
  def routeSink(
      repo: PqRepo,
      schema: String,
      routes: Seq[(String, org.apache.spark.sql.Column)],
      keys: Seq[String],
      partitionCols: Seq[String] = Nil
  ): (DataFrame, Long) => Unit = {
    require(routes.nonEmpty, "routeSink needs at least one route")
    require(routes.map(_._1).distinct.size == routes.size,
      "route table names must be unique")
    val routesCol = "__graft_routes"
    ledgeredSink(repo, schema, routes.map(_._1).mkString("+")) { batch =>
      graft.InternalCols.requireAbsent(batch, "routeSink", routesCol)
      val tagged = batch
        .withColumn(routesCol, filter(
          array(routes.map { case (table, pred) =>
            when(pred, lit(table)) }: _*),
          _.isNotNull))
        .persist()
      // one action populates the cache — THE single pass over the
      // batch's upstream plan; the route filters below read blocks
      tagged.count()
      try {
        // routes land OVERLAPPED (r20, guide §2.6): each route merges
        // into its OWN table (disjoint outputs, each with its own
        // atomic promote/recovery), reading the shared cached tagged
        // frame. The exactly-once story is unchanged: the marker still
        // lands only after EVERY route merged, and a crash mid-routes
        // replays all routes key-merge-idempotently — exactly as when
        // a crash fell between the previously sequential merges.
        graft.Par.runAll(routes.map { case (table, _) => () =>
          repo.merge(tagged.filter(array_contains(col(routesCol), table)).drop(routesCol),
            schema, table, keys, partitionCols = partitionCols)
          ()
        })
      } finally tagged.unpersist()
    }
  }

  /** Generic land-then-mark: ANY landing action behind the batch-id
    * ledger. [[mergeSink]] and [[routeSink]] are the single/multi repo-
    * table instances; this exposes the same exactly-once protocol for
    * landings that aren't a plain table merge — e.g. appending streamed
    * embedding batches into a persisted ANN index
    * ([[graft.operators.Similarity.appendToIvfIndex]], whose (id,
    * cluster)-keyed partition-scoped merge is what covers the
    * landed-but-unmarked crash window: replaying the identical batch is
    * a row-set no-op on the index). The `land` action MUST be
    * key-idempotent for the crash-window guarantee to hold — a blind
    * append would double rows on replay; the ledger alone only covers
    * the marker-present fast path. Empty batches still mark (a skipped
    * empty replay is indistinguishable from a landed one — and marking
    * keeps the ledger a contiguous record of processed ids). */
  def ledgeredSink(
      repo: PqRepo,
      schema: String,
      ledgerName: String)(
      land: DataFrame => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val marker = markerPath(repo, schema, ledgerName, batchId)
      val f = fs(repo, marker)
      if (!f.exists(marker)) {
        land(batch)
        f.mkdirs(marker.getParent)
        // atomic zero-byte create — the commit point; overwrite=false so
        // a concurrent double-commit of the same id fails loudly instead
        // of silently racing
        f.create(marker, false).close()
      }
  }

  /** The `foreachBatch` function: merge-then-mark. Use as
    * `ds.writeStream.foreachBatch(StreamToRepo.mergeSink(repo, "s", "t",
    * keys))`. */
  def mergeSink(
      repo: PqRepo,
      schema: String,
      table: String,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil
  ): (DataFrame, Long) => Unit =
    ledgeredSink(repo, schema, table) { batch =>
      repo.merge(batch, schema, table, keys, partitionCols = partitionCols)
    }
}
