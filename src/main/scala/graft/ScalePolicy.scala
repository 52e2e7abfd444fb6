package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame

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
    * Deliberately below [[SmallCorpusBytes]]: the estimate is
    * parquet-compressed scan bytes, and the span rebuild-join hints were
    * measured to win from ~250 KB of compressed text up (sf0.1
    * 2.05 → 1.84 s; 20×, a 5.0 MB estimate, 10.3 → 5.9 s), and the
    * verified dedup input is often a DERIVED frame (pipeline_curate's
    * post-window near-dedup input) whose stats under-report. Only the
    * genuinely tiny spec/smoke corpora keep the broadcast-regime plans
    * the text-never-shuffles audit pins. */
  val DigestBytes: Long = 1L << 20

  /** 4 MB: `Dedup.fanOutDense` spreads dense-vector kernels only above
    * this — below it the kernels finish faster than the exchange they
    * would be spread by (measured +0.27 s on the sf0.1 quantized top-k). */
  val DenseFanOutBytes: Long = 4L << 20

  /** 8 MB: the sketch dedup family's small-corpus regime — minhash and
    * simhash candidates skip the signature materialization job, the
    * heavy-group probe and the salted assembly (one action, identical
    * output); `verifyPairsExact` skips its eager digest pass, which pays
    * only once text-bearing joins would dominate (measured ~2.4 s off the
    * 100× minhash minimum); and the digest/winner/anti joins keep the
    * planner's broadcast. Above it those joins hash-build their
    * corpus-row-count-bounded side (see [[joinSide]]). */
  val SmallCorpusBytes: Long = 8L << 20

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
