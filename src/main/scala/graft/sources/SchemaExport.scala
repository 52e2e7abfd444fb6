package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

import graft.plans.TablePlan

/** Whole-schema export: apply a plan to every table of a source and land
  * the results in a [[PqRepo]] (reference db_schema_to_pq, core.py:765, and
  * wrds_update_schema, core.py:1217).
  *
  * Sources are addressed generically: a directory of parquet tables (the
  * test harness), or any `tableNames → DataFrame` loader (a JDBC catalog at
  * ingest time). Each table goes through the same TablePlan machinery, so
  * schema-wide exports inherit pushdown, casting, and tz rules.
  */
object SchemaExport {

  /** Run `f` over `items` from a bounded thread pool, preserving order.
    *
    * Each table export is an independent Spark job writing its own
    * destination directory; Spark schedules jobs submitted from multiple
    * threads concurrently, so the per-job planning / parquet-footer /
    * commit latency overlaps instead of accumulating serially — at a
    * 1000-table schema the difference between one night and one coffee.
    * Failures propagate AND abort: the first failure to complete
    * interrupts the remaining in-flight exports (`shutdownNow` — a
    * graceful shutdown would let them keep writing in background threads
    * after the caller has already seen the failure), and queued exports
    * never start. A non-fatal exception carries the failing item's
    * identity; a fatal error (out of memory, an interrupt) propagates
    * as it was thrown. */
  private[sources] def inParallel[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.sizeIs <= 1) items.map(f)
    else {
      import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
      val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
      try {
        val done = new ExecutorCompletionService[B](pool)
        // a worker's exception, fatal or not, lands in its task and is
        // rethrown here: nothing is lost with a dying pool thread
        val tasks = items.map(a => done.submit { () =>
          try f(a)
          catch { case NonFatal(e) =>
            throw new RuntimeException(s"export of '$a' failed: ${e.getMessage}", e)
          }
        })
        items.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        tasks.map(_.get())
      } finally pool.shutdownNow()
    }

  /** Export `tables` from a parquet directory into `repo/<schema>/`.
    * Returns (table, written path) pairs; skips via repo.updateWrite when
    * `sourceComment` is provided and the destination is current.
    * `parallelism` bounds concurrent table jobs (each lands in its own
    * destination directory, so exports are independent). */
  def fromParquetDir(
      spark: SparkSession,
      srcDir: String,
      tables: Seq[String],
      repo: PqRepo,
      schema: String,
      plan: TablePlan = TablePlan(),
      modified: Option[String] = None,
      archiveExisting: Boolean = false,
      parallelism: Int = 4
  ): Seq[(String, Path)] =
    inParallel(tables, parallelism) { table =>
      val df = plan(spark.read.parquet(s"$srcDir/$table.parquet"))
      table -> repo.write(df, schema, table, modified = modified,
        archiveExisting = archiveExisting)
    }

  /** Incremental variant: only tables whose `sourceComment` is newer than
    * the stored copy are rewritten (reference wrds_update_schema). */
  def updateFromParquetDir(
      spark: SparkSession,
      srcDir: String,
      tables: Seq[String],
      repo: PqRepo,
      schema: String,
      sourceComment: String => Option[String],
      plan: TablePlan = TablePlan(),
      force: Boolean = false,
      parallelism: Int = 4
  ): Seq[(String, Option[Path])] =
    inParallel(tables, parallelism) { table =>
      table -> repo.updateWrite(
        plan(spark.read.parquet(s"$srcDir/$table.parquet")),
        schema, table, sourceComment(table), force = force)
    }
}
