package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one small-vs-scale regime policy of the dedup operators.
  *
  * Every operator that has a cheap small-input plan and a scale plan
  * decides between them here, from the optimizer's size estimate of its
  * input (or, for the components solver, the materialized edge count) —
  * never from a caller option. The estimate runs no job: it is the
  * optimized plan's `sizeInBytes`, file-size-derived for parquet scans,
  * so a given corpus always takes the same regime.
  *
  * Gates compare with `<=`: an input AT the threshold is small.
  *
  * Tests pin a regime with [[forcing]]; there is no SQL conf, environment
  * variable or operator parameter for it. */
private[graft] object ScalePolicy {

  /** 1 MB: the text-leaves-the-exchange gate — verified exact dedup's
    * digest grouping (`Dedup.dropNearDuplicatesWithStats`) and the span
    * operators' `shuffle_hash` joins (`sharedSpans`, `dropSharedSpans`).
    * It sits this low because the estimate is parquet-compressed scan
    * bytes: the span rebuild-join hints were measured to win from
    * ~250 KB of compressed text up (sf0.1 2.05 → 1.84 s; 20×, a 5.0 MB
    * estimate, 10.3 → 5.9 s), and the verified dedup input is often a
    * DERIVED frame (pipeline_curate's post-window near-dedup input)
    * whose stats under-report. Only the genuinely tiny spec/smoke
    * corpora keep the broadcast-regime plans the text-never-shuffles
    * audit pins. */
  val DigestBytes: Long = 1L << 20

  /** 4 MB: `Dedup.fanOutDense` spreads dense-vector kernels only above
    * this — below it the kernels finish faster than the exchange they
    * would be spread by (measured +0.27 s on the sf0.1 quantized top-k). */
  val DenseFanOutBytes: Long = 4L << 20

  /** 1,000,000 directed edges: `Dedup.componentsWithStats` solves a graph
    * at or below this exactly on the driver (union-find over one
    * collect; 1.75M edges over 1M nodes retained 243 MB of driver heap,
    * see `DriverComponentsScaleSpec`). Larger graphs run the distributed
    * label-propagation loop. */
  val DriverGraphEdges: Long = 1000000L

  private val forced = new DynamicVariable[Option[Boolean]](None)

  /** Run `body` with every gate answering `small`, whatever the input's
    * size. Threads started inside `body` (e.g. by [[Par]]) inherit it.
    * Decisions are taken when an operator BUILDS its frame, so the
    * operator call must sit inside the scope; actions may run outside. */
  def forcing[T](small: Boolean)(body: => T): T =
    forced.withValue(Some(small))(body)

  /** The zero-job size estimate the byte gates key on. */
  def estimateBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The number of partitions `df` is planned to run with, read without
    * starting a job — the probe behind `Dedup.fanOut`, `Dedup.fanOutDense`
    * and the clustering test of `PqRepo.mergeIntoPartitions`.
    *
    * An adaptive plan (AQE wraps every plan that holds an exchange or a
    * subquery) counts as already spread: the answer is its pre-coalesce
    * output partitioning, and the shuffle parallelism where that names no
    * count (a union, a broadcast join streaming a scan). Asking its RDD
    * instead would run every shuffle stage, and the caller's next Dataset
    * would run them again. Any other plan keeps its RDD's split count:
    * the RDD is cached on the QueryExecution, and building it runs no job
    * for a plan without exchanges. The one exception is a read of a
    * cached frame whose cache is not built yet: building that RDD runs
    * the cached plan's exchanges. */
  def plannedPartitions(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec =>
      val n = a.initialPlan.outputPartitioning.numPartitions
      if (n > 0) n else df.sparkSession.sessionState.conf.numShufflePartitions
    case _ => df.queryExecution.toRdd.getNumPartitions
  }

  /** True when `df`'s estimated size is at or below `gateBytes`. */
  def isSmall(df: DataFrame, gateBytes: Long): Boolean =
    forced.value.getOrElse(estimateBytes(df) <= BigInt(gateBytes))

  /** True when the materialized edge list fits the driver solver; the
    * count job runs only when no regime is forced. */
  def driverGraph(edges: DataFrame): Boolean =
    forced.value.getOrElse(edges.count() <= DriverGraphEdges)

  /** The build side of a join in the given regime: as-is when small (the
    * planner's broadcast stays), `shuffle_hash`-hinted above the gate so
    * the streamed side is hash-probed instead of sorted for a
    * sort-merge join. */
  def joinSide(small: Boolean): DataFrame => DataFrame =
    d => if (small) d else d.hint("shuffle_hash")
}
