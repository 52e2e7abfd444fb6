package graft.sources

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The keyed append of every persisted index
  * ([[graft.operators.MinHashIndex.append]] for both of its tables, the
  * IVF, IVF-PQ and quantized appends, IVF reassignment): it lands a batch
  * in a table partitioned on `partition` at a cost that follows the
  * batch, not the table.
  *
  *   1. Batch: the key, `same` and partition columns of `batch` are
  *      collected once: without a job from a local relation, else from a
  *      materialized batch (the write must see the same rows).
  *   2. Probe ([[probe]]): one scan of the index collects every indexed
  *      row of a batch id (`key.head`). The caller's guards read it
  *      before anything is written.
  *   3. Landing ([[land]]), through [[PqRepo.mergeIntoPartitions]]: a key
  *      the index does not hold is an insert, renamed into its partition
  *      as new files; a key held with exactly the batch's `same` rows (a
  *      multiset) drops out, and with no `same` named every hit
  *      rewrites; every other hit rewrites the partitions where the
  *      probe found the key's rows, and every null id (matched
  *      null-safely) the partition its row lands in.
  *
  * The merge engine's safety obligation holds by construction: an
  * indexed row whose key matches a landed row holds a batch id, so the
  * probe found it and its partition is rewritten, provided the caller's
  * prune filter keeps every indexed row of a batch key (a function of
  * the key's own columns does). `same` is the key plus the columns in
  * which two rows of one key can differ. */
private[graft] final class KeyedAppend(
    repo: PqRepo,
    schema: String,
    table: String,
    index: DataFrame,
    batch: DataFrame,
    key: Seq[String],
    partition: String,
    same: Seq[String] = Nil) {
  import KeyedAppend._

  private val cols = (key ++ same :+ partition).distinct

  /** The batch's rows in the order key, `same`, partition. */
  val rows: Seq[IndexedSeq[Any]] = collectValues(batch) // bounded: thin columns per batch row

  def value(r: IndexedSeq[Any], c: String): Any = r(cols.indexOf(c))

  /** The distinct batch values of `c`, for a prune filter. */
  def values(c: String): Seq[Any] = rows.map(value(_, c)).distinct

  /** Every indexed row of a batch id, in the batch's column order: one
    * scan, pruned by `filter`. */
  def probe(filter: Column = lit(true)): Seq[IndexedSeq[Any]] = {
    val ids = rows.iterator.map(_.head).filter(_ != null).toSet
    if (ids.isEmpty) Nil
    else collectValues(index.filter(filter && inSet(col(key.head), ids))) // bounded: indexed rows of batch ids
  }

  /** Land the batch against `indexed`, the rows [[probe]] returned. */
  def land(indexed: Seq[IndexedSeq[Any]]): Unit = {
    def keyOf(r: IndexedSeq[Any]) = r.take(key.length)
    def sameOf(r: IndexedSeq[Any]) = same.map(value(r, _))
    def partitions(rs: Seq[IndexedSeq[Any]]) = rs.map(r => Row(raw(value(r, partition)))).distinct
    val stored = indexed.groupBy(keyOf)
    val (dropped, landed) = rows.groupBy(keyOf).partition { case (k, rs) =>
      same.nonEmpty && k.head != null &&
        stored.get(k).exists(s => counts(s.map(sameOf)) == counts(rs.map(sameOf)))
    }
    if (landed.isEmpty) return
    val kept =
      if (dropped.isEmpty) batch
      else batch.filter(!inSet(struct(key.map(col): _*),
        dropped.keys.map(k => Row(k.map(raw): _*))))
    repo.mergeIntoPartitions(
      // a local batch is driver-sized: one task writes it, with no shuffle
      if (batch.isLocal) kept.coalesce(1) else kept,
      schema, table, key, Seq(partition),
      affected = landed.toSeq.flatMap { case (k, rs) =>
        if (k.head == null) partitions(rs) else stored.get(k).toSeq.flatMap(partitions)
      }.distinct,
      currentFull = Some(index),
      inserted = partitions(landed.values.flatten.toSeq))
  }

  private def collectValues(df: DataFrame): Seq[IndexedSeq[Any]] =
    df.select(cols.map(col): _*).collect().toSeq
      .map(r => cols.indices.map(i => r.get(i) match {
        case b: Array[Byte] => ArraySeq.unsafeWrapArray(b) // compares content
        case v => v
      }))
}

private[graft] object KeyedAppend {

  /** `c IN values` as one [[InSet]] over catalyst values. Probe sets are
    * batch-sized; as an IN list each value would be a literal node in
    * the plan. Parquet pushdown and partition pruning read InSet as they
    * read IN. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    ColumnBridge.column(InSet(ColumnBridge.expression(c),
      values.iterator.map(v => CatalystTypeConverters.convertToCatalyst(raw(v))).toSet))

  private def raw(v: Any): Any = v match {
    case b: ArraySeq.ofByte => b.unsafeArray
    case v => v
  }

  private def counts[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
}
