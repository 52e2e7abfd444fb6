package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min, when}
import org.apache.spark.sql.graft.ParquetBridge
import org.apache.spark.sql.types.MetadataBuilder

import graft.ScalePolicy
import graft.sync.Modified

/** A managed Parquet repository: `<dataDir>/<schema>/<table>.parquet`.
  *
  * Re-expresses the reference's repository layer (db2pq/files/paths.py,
  * db2pq/files/parquet.py) on the Hadoop FileSystem API, so the same code
  * addresses local disk in tests and HDFS/S3A on a cluster:
  *
  *  - writes go to a temp location then atomically promote (reference
  *    promote_temp_parquet) — readers never observe a half-written table;
  *  - a `last_modified` string is embedded in the dataset's own schema
  *    metadata (Spark persists field metadata into the parquet footer), the
  *    Spark analog of the reference's schema-level KV (parquet.py:569);
  *  - archive / restore / remove / list / lastModified management mirrors
  *    parquet.py:294-534.
  *
  * Unlike the single-file reference, tables here are parquet *directories* —
  * the idiomatic Spark layout, written in parallel by every executor —
  * flat or hive-partitioned.
  *
  * One write, one merge, one recovery. [[write]] is the only layout
  * writer and [[merge]] the only upsert, for flat and partitioned tables
  * alike. Every mutating entry point ([[write]] and its wrappers,
  * [[merge]], [[mergeIntoPartitions]], [[compact]], [[setComment]],
  * [[archive]], [[restore]], [[writeTableMeta]], [[remove]]) first runs
  * [[recover]], which rolls any
  * commit a crash interrupted forward or back, before it reads the table
  * or touches its `_tmp_<table>.parquet` layout. Whole-table commits go
  * through one promote (archiving included), partition-scoped ones
  * through the manifest-recorded partition swap, so a crash at any step
  * leaves a table that recovery turns into exactly the old or exactly
  * the new version.
  *
  * Reads resolve a table on the driver ([[ParquetBridge]]): the directory
  * tree is listed with `listStatus` and the schema comes from one footer,
  * so a read runs no Spark job — the analog of the reference reading one
  * file's footer. The resulting DataFrame is the relation Spark's parquet
  * reader builds, with the same schema, rows and input files. A repo table
  * has one schema by construction (every merge path runs
  * `validateMergeSchema`, and a partition-scoped merge refuses to add
  * columns), so a session's `spark.sql.parquet.mergeSchema` does not apply
  * to it.
  */
final case class PqRepo(spark: SparkSession, dataDir: String) {
  import PqRepo.PartitionMove

  val MetadataKey = "graft.last_modified"

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"$table.parquet")

  private def archivePath(schema: String, archiveDir: String): Path =
    new Path(new Path(dataDir, schema), archiveDir)

  /** Read a repository table. */
  def table(schema: String, table: String): DataFrame =
    ParquetBridge.read(spark, tablePath(schema, table))

  /** Write `df` as `<schema>/<table>.parquet` and return the final path:
    * flat, or with `partitionCols` hive-partitioned
    * (`<table>.parquet/<col>=<value>/...`), so every downstream filter on
    * those coarse keys prunes whole directories before any I/O
    * (PartitionFilters in the scan, not data filters). The one layout
    * writer, in one body for both layouts:
    *   1. [[recover]] heals a crashed earlier commit of the table;
    *   2. a stale tmp layout is cleared;
    *   3. rows are clustered on the partition columns
    *      ([[clusterOnPartitions]]);
    *   4. `modified` is stamped into the schema metadata;
    *   5. the layout is written to the tmp location, and the `metaProps`
    *      sidecar INTO it, so the sidecar travels atomically with the files
    *      it describes;
    *   6. [[promote]] swaps the tmp layout in; with `archiveExisting` the
    *      replaced table moves into `archiveDir` in the same commit, so
    *      the archive holds the old table whenever the new one landed.
    *
    * File/row-group budgets (reference parquet.py:221
    * `_write_batches_with_target_row_groups` + :671 `write_parquet` bounds
    * row groups by row count AND bytes): `maxRecordsPerFile` caps rows per
    * output file, `parquetBlockBytes` caps the parquet row-group byte
    * size. At 100 TB uncontrolled file sizes break downstream split
    * planning (one 50 GB file = one unsplittable-row-group straggler);
    * bounded files keep every scan partition-parallel. */
  def write(
      df: DataFrame,
      schema: String,
      table: String,
      modified: Option[String] = None,
      archiveExisting: Boolean = false,
      archiveDir: String = "archive",
      maxRecordsPerFile: Option[Long] = None,
      parquetBlockBytes: Option[Long] = None,
      metaProps: Option[Map[String, String]] = None,
      partitionCols: Seq[String] = Nil
  ): Path =
    writeLayout(clusterOnPartitions(df, partitionCols), schema, table, partitionCols,
      modified, Some(archiveDir).filter(_ => archiveExisting), maxRecordsPerFile,
      parquetBlockBytes, metaProps)

  /** [[write]]'s body after the clustering step, for a frame that is
    * already laid out ([[compact]]'s own layout, which a second shuffle
    * would collapse over). */
  private def writeLayout(
      laid: DataFrame,
      schema: String,
      table: String,
      partitionCols: Seq[String],
      modified: Option[String],
      archiveDir: Option[String],
      maxRecordsPerFile: Option[Long],
      parquetBlockBytes: Option[Long],
      metaProps: Option[Map[String, String]]
  ): Path = {
    val dest = tablePath(schema, table)
    val f = fs(dest)
    recover(schema, table)
    // the one tmp path of a table: a concurrent write and merge of one
    // table collide on it instead of interleaving
    val tmp = clearTmp(f, schema, table)
    val writer = stampModified(laid, partitionCols, modified)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
    maxRecordsPerFile.foreach(n => writer.option("maxRecordsPerFile", n))
    parquetBlockBytes.foreach(b => writer.option("parquet.block.size", b))
    writer.parquet(tmp.toString)
    metaProps.filter(_.nonEmpty).foreach(p =>
      writeMetaFile(f, new Path(tmp, MetaFileName), p))
    promote(f, schema, table,
      archiveDir.filter(_ => f.exists(dest)).map(archiveTarget(schema, table, _)))
    dest
  }

  /** Embedded `last_modified` for a table, if any (reference
    * get_modified_pq, parquet.py:280). Reads one footer — the one a read
    * of the table takes its schema from — and builds no DataFrame. */
  def lastModified(schema: String, table: String): Option[String] = {
    val p = tablePath(schema, table)
    if (!fs(p).exists(p)) return None
    ParquetBridge.dataSchema(spark, p).fields
      .flatMap(f => if (f.metadata.contains(MetadataKey))
        Some(f.metadata.getString(MetadataKey)) else None)
      .headOption
  }

  /** List active tables in a schema (reference pq_list_files). */
  def list(schema: String): Seq[String] = {
    val dir = new Path(dataDir, schema)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".parquet"))
      .filterNot(s => s.getPath.getName.startsWith("_tmp_") ||
        s.getPath.getName.startsWith("_old_"))
      .map(_.getPath.getName.stripSuffix(".parquet"))
      .sorted
  }

  /** Move a table into the archive directory, stamped with its parsed
    * last-modified time or `unknown_modified` (reference pq_archive). One
    * rename, after [[recover]]. */
  def archive(schema: String, table: String, archiveDir: String = "archive"): Option[Path] = {
    recover(schema, table)
    val src = tablePath(schema, table)
    val f = fs(src)
    if (!f.exists(src)) return None
    val dest = archiveTarget(schema, table, archiveDir)
    if (!f.exists(dest.getParent)) f.mkdirs(dest.getParent)
    if (f.exists(dest)) f.delete(dest, true)
    rename(f, src, dest)
    Some(dest)
  }

  /** Where [[archive]] puts the active table. */
  private def archiveTarget(schema: String, table: String, archiveDir: String): Path = {
    val stamp = lastModified(schema, table)
      .flatMap(Modified.parseFileSafe)
      .getOrElse("unknown_modified")
    new Path(archivePath(schema, archiveDir), s"${table}_$stamp.parquet")
  }

  private val archivedNameRe = raw"^(.+)_(\d{8}T\d{6}Z|unknown_modified)$$".r

  /** Original table name from an archived basename (reference
    * _restore_table_basename, parquet.py:361). */
  def restoreBasename(archivedStem: String): Option[String] =
    archivedStem match {
      case archivedNameRe(table, _) => Some(table)
      case _                        => None
    }

  /** Restore an archived table to active status; optionally archive the
    * currently-active table first (reference pq_restore). The snapshot
    * takes the tmp slot, stamped beforehand, and lands through
    * [[promote]], so the restore and the archiving of the current table
    * are one commit: a crash leaves the current table active with the
    * snapshot archived, or the snapshot active with the current table
    * archived. */
  def restore(
      archivedBasename: String,
      schema: String,
      archiveCurrent: Boolean = true,
      archiveDir: String = "archive"
  ): Option[Path] = {
    val stem = archivedBasename.stripSuffix(".parquet")
    restoreBasename(stem).flatMap { table =>
      recover(schema, table)
      val src = new Path(archivePath(schema, archiveDir), s"$stem.parquet")
      val dest = tablePath(schema, table)
      val f = fs(src)
      val current = f.exists(dest)
      if (!f.exists(src) || (current && !archiveCurrent)) None
      else {
        val tmp = clearTmp(f, schema, table)
        // the stamp goes in BEFORE the snapshot moves: an unstamped tmp
        // layout is garbage the next write deletes
        stampPromote(f, src,
          Some(archiveDir).filter(_ => current).map(archiveTarget(schema, table, _)))
        rename(f, src, tmp)
        completePromote(f, schema, table)
        Some(dest)
      }
    }
  }

  /** All on-disk versions of a table, oldest first: archived snapshots
    * (stamped `<table>_<yyyyMMdd'T'HHmmss'Z'>.parquet` by [[archive]])
    * plus the active table (stamp parsed from its embedded
    * `last_modified`, None when absent/unparseable). The plumbing for
    * [[tableAsOf]]; also useful on its own for retention audits. */
  def versions(
      schema: String,
      table: String,
      archiveDir: String = "archive"): Seq[(Option[String], Boolean, Path)] = {
    val dir = archivePath(schema, archiveDir)
    val f = fs(dir)
    val stampRe = raw"^${java.util.regex.Pattern.quote(table)}_(\d{8}T\d{6}Z)\.parquet$$".r
    val archived: Seq[(Option[String], Boolean, Path)] =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.flatMap { s =>
        s.getPath.getName match {
          case stampRe(stamp) => Some((Some(stamp), false, s.getPath))
          case _              => None
        }
      }
    val active = tablePath(schema, table)
    val current: Seq[(Option[String], Boolean, Path)] =
      if (!fs(active).exists(active)) Nil
      else Seq((lastModified(schema, table).flatMap(Modified.parseFileSafe),
        true, active))
    // the file-stamp format sorts lexicographically by time; the active
    // table (the newest version by construction) goes last
    archived.sortBy(_._1) ++ current
  }

  /** TIME-TRAVEL read (r13): the table as it was at `asOf` (a
    * `yyyyMMdd'T'HHmmss'Z'` stamp, the [[archive]] file format) — the
    * newest version whose stamp is ≤ asOf, which is an archived snapshot
    * or the active table itself. Versions without a parseable stamp
    * (`unknown_modified` archives, an active table with no
    * last_modified) never match — time travel needs a timeline. Returns
    * None when no version existed at `asOf`. Read-only: unlike
    * [[restore]] nothing moves on disk, so a backfill can reproduce last
    * month's input while today's loads keep landing. */
  def tableAsOf(
      schema: String,
      table: String,
      asOf: String,
      archiveDir: String = "archive"): Option[DataFrame] =
    versions(schema, table, archiveDir)
      .collect { case (Some(stamp), _, path) if stamp <= asOf => (stamp, path) }
      .sortBy(_._1)
      .lastOption
      .map { case (_, path) => ParquetBridge.read(spark, path) }

  /** Resolution detail behind [[repoAsOf]]: for each table the newest
    * version whose stamp is ≤ asOf — (table, stamp, isActive, path), or
    * no entry when none existed. One directory listing per table, no
    * data reads. */
  def resolveAsOf(
      schema: String,
      tables: Seq[String],
      asOf: String,
      archiveDir: String = "archive"): Seq[(String, String, Boolean, Path)] =
    tables.flatMap { t =>
      versions(schema, t, archiveDir)
        .collect { case (Some(stamp), active, path) if stamp <= asOf =>
          (t, stamp, active, path)
        }
        .sortBy(_._2)
        .lastOption
    }

  /** Consistent MULTI-table snapshot (r15): every requested table as it
    * was at `asOf`, resolved from ONE timeline point — the reproducible-
    * backfill primitive [[tableAsOf]] covers per-table ("re-run last
    * month's pipeline against last month's inputs" needs ALL inputs from
    * the same instant, not a per-table mix). All-or-nothing: any table
    * with no version at `asOf` fails LOUDLY naming it — a partial
    * snapshot that silently drops a table is exactly the corruption a
    * consistent read exists to prevent. Read-only, like [[tableAsOf]]:
    * nothing moves on disk, today's loads keep landing. Resolution is
    * [[resolveAsOf]] (exposed for audit trails: which stamp each table
    * resolved to). */
  def repoAsOf(
      schema: String,
      tables: Seq[String],
      asOf: String,
      archiveDir: String = "archive"): Map[String, DataFrame] = {
    require(tables.nonEmpty, "repoAsOf: at least one table")
    require(tables.distinct.size == tables.size,
      s"repoAsOf: duplicate table names in ${tables.mkString(", ")}")
    val resolved = resolveAsOf(schema, tables, asOf, archiveDir)
    val missing = tables.toSet -- resolved.map(_._1).toSet
    if (missing.nonEmpty)
      throw new NoSuchElementException(
        s"repoAsOf($schema @ $asOf): no version at or before the stamp " +
          s"for ${missing.toSeq.sorted.mkString(", ")} — a partial " +
          "snapshot would silently mix timeline points; archive these " +
          "tables with parseable stamps or pick a later asOf")
    resolved.map { case (t, _, _, path) =>
      t -> ParquetBridge.read(spark, path)
    }.toMap
  }

  /** Like [[write]] but skips entirely when the frame is empty, mirroring
    * the reference's "No rows returned; no parquet file created"
    * (files/parquet.py:713). Costs one cheap `isEmpty` probe. */
  def writeNonEmpty(
      df: DataFrame,
      schema: String,
      table: String,
      modified: Option[String] = None,
      archiveExisting: Boolean = false
  ): Option[Path] =
    if (df.isEmpty) None
    else Some(write(df, schema, table, modified, archiveExisting))

  /** The shared pre-write clustering for partitioned layouts. Unclustered,
    * every shuffle task holds rows of every partition value and writes one
    * file per (task, value), and those small files then dominate every
    * later scan and merge (54 s per rep on the streamed sf0.1 MinHash
    * query against ~6 s clustered). The clustering is an AQE
    * REBALANCE on the partition columns (r21, verdict #1 — guide §2.5
    * skew / §6 small files) instead of r20's plain
    * `repartition(partitionCols)`. The plain repartition capped write
    * parallelism at the number of DISTINCT partition values (a 16-bucket
    * index write ran 16 tasks on any cluster) and funneled a hot value
    * through a single task — a straggler `maxRecordsPerFile` cannot help
    * (it bounds file size, not task time). `RebalancePartitions` keeps
    * the one-file-per-directory property in the common case (a value
    * hashes into exactly one shuffle partition; AQE coalescing merges
    * WHOLE partitions, so a value still lands in one task) while SPLITTING
    * oversized partitions at runtime
    * (`spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled`,
    * on by default): a hot value becomes several
    * `advisoryPartitionSizeInBytes`-bounded tasks ⇒ several bounded
    * files in that directory — write parallelism scales with data, not
    * with value cardinality. Small merges additionally COALESCE below
    * the advisory size (fewer near-empty tasks per micro-batch than the
    * old fixed `shuffle.partitions` fan-out). Without AQE the node
    * degrades to a plain hash exchange on the partition columns — the
    * r20 behavior, never worse. Scale-adaptive by construction: no
    * local-mode constant anywhere. */
  private def clusterOnPartitions(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols.map(col): _*)
    else df

  /** The lastModified stamp on the first DATA column (partition columns
    * don't materialize in the files), shared by every partitioned write
    * path so merge-rewritten partitions keep the stamp too. */
  private def stampModified(
      df: DataFrame,
      partitionCols: Seq[String],
      modified: Option[String]): DataFrame = modified match {
    case None => df
    case Some(m) =>
      val first = df.columns.filterNot(partitionCols.contains).head
      val md = new MetadataBuilder()
        .withMetadata(df.schema(first).metadata)
        .putString(MetadataKey, m).build()
      df.withColumn(first, col(first).as(first, md))
  }

  /** Range-partitioned, within-partition-sorted write: rows are range-
    * partitioned on `sortCols` (each output file covers a disjoint key
    * range) and sorted inside each partition, so parquet row-group min/max
    * statistics are tight and any scan filtering on those columns skips
    * whole files/row groups before I/O — the single biggest data-skipping
    * lever for a 100 TB lake after hive partitioning (which needs coarse
    * keys; this works on high-cardinality ones). */
  def writeSorted(
      df: DataFrame,
      schema: String,
      table: String,
      sortCols: Seq[String],
      numFiles: Int,
      modified: Option[String] = None
  ): Path =
    // the layout spec rides the meta sidecar (atomically, inside the tmp
    // layout) so [[compact]] can re-apply it: without the stamp a later
    // compaction would coalesce arbitrary file unions and the per-file
    // min/max ranges this writer exists to tighten would quietly widen
    write(sortedLayout(df, sortCols, numFiles), schema, table,
      modified = modified, metaProps = Some(sortedLayoutMeta(sortCols, numFiles)))

  private def sortedLayout(df: DataFrame, sortCols: Seq[String], numFiles: Int) =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)

  /** Layout-spec sidecar keys ([[writeSorted]]/[[writeZOrdered]] stamp
    * them; [[compact]] re-applies). Columns are comma-joined — layout
    * columns with commas in their names are refused at stamp time rather
    * than silently mis-split at compact time. */
  private val LayoutKindProp = "layout.kind"
  private val LayoutColsProp = "layout.cols"
  private val LayoutFilesProp = "layout.files"
  private val LayoutBitsProp = "layout.bits"

  private def requireJoinableCols(cols: Seq[String], op: String): Unit =
    require(cols.forall(!_.contains(",")),
      s"$op: layout column names may not contain ',' (sidecar encoding): $cols")

  private def sortedLayoutMeta(sortCols: Seq[String], numFiles: Int): Map[String, String] = {
    requireJoinableCols(sortCols, "writeSorted")
    Map(LayoutKindProp -> "sorted", LayoutColsProp -> sortCols.mkString(","),
      LayoutFilesProp -> numFiles.toString)
  }

  private def zLayoutMeta(zCols: Seq[String], numFiles: Int, bits: Int): Map[String, String] = {
    requireJoinableCols(zCols, "writeZOrdered")
    Map(LayoutKindProp -> "zorder", LayoutColsProp -> zCols.mkString(","),
      LayoutFilesProp -> numFiles.toString, LayoutBitsProp -> bits.toString)
  }

  /** Copy-on-write MERGE (upsert): rows of `updates` replace current rows
    * with the same key tuple, new keys append, everything else carries
    * over — the Delta/Iceberg `MERGE INTO` primitive on this repo's
    * atomic tmp+promote machinery. The one merge, for both layouts:
    *   1. [[recover]] heals a crashed earlier commit of the table;
    *   2. a missing destination is an empty current table, so the first
    *      merge is a plain [[write]] in the requested layout — idempotent
    *      bootstrap for incremental loaders;
    *   3. the destination is read ONCE; that read's partition columns
    *      must equal `partitionCols`, or the merge refuses before any
    *      write (a flat rewrite would demote the partition columns to
    *      data columns, a partitioned one would interleave partition dirs
    *      with flat files);
    *   4. the updates' schema is checked against that read
    *      ([[validateMergeSchema]]);
    *   5. a flat table is rewritten whole: one anti join on the key tuple
    *      (updates broadcast while they fit — the common case for
    *      incremental loads) plus the surviving rows, through [[write]];
    *      a partitioned table rewrites ONLY the hive partitions the
    *      updates touch ([[mergeIntoPartitions]] with the updates' own
    *      partition tuples): on a 100 TB date-partitioned table an
    *      incremental load touching 3 days rewrites 3 directories, not
    *      the lake, and untouched partitions are never read.
    *
    * A partitioned merge requires `partitionCols ⊆ keys`: then a key can
    * never move between partitions, so replacing within the affected
    * partitions is exactly whole-table merge semantics. Its affected
    * tuples are collected driver-side (a partition count, bounded by
    * design), so `updates` is evaluated at least twice and must be
    * deterministic across re-execution or already materialized. A batch
    * that changes between the evaluations can write a partition the
    * collect never saw: the engine takes such rows as inserts, so their
    * files join that partition beside its current rows, which are kept,
    * and a key it already held keeps its old row beside the new one.
    * Readers never observe a partial flat merge; a reader racing a
    * partitioned one can see some partitions old and some new.
    *
    * `updates` must be key-unique: rows sharing a key tuple within one
    * updates batch all land (this operator does not pick a winner —
    * dedupe upstream with [[graft.operators.Dedup.exact]] if the batch
    * can carry replays).
    *
    * The key join is null-safe (`<=>`): a NULL-keyed update REPLACES an
    * existing NULL-keyed row instead of appending beside it. */
  def merge(
      updates: DataFrame,
      schema: String,
      table: String,
      keys: Seq[String],
      modified: Option[String] = None,
      allowMissingColumns: Boolean = false,
      partitionCols: Seq[String] = Nil
  ): Path = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(partitionCols.forall(keys.contains),
      s"partition columns $partitionCols must be a subset of the merge " +
        s"keys $keys (otherwise a key could move partitions and its old " +
        "row would survive)")
    val op = s"merge($schema/$table)"
    recover(schema, table)
    val dest = tablePath(schema, table)
    if (!fs(dest).exists(dest))
      return write(updates, schema, table, modified = modified, partitionCols = partitionCols)
    val current = this.table(schema, table)
    requireLayout(current, partitionCols, op)
    validateMergeSchema(current, updates, keys, allowMissingColumns, op,
      partitionScoped = partitionCols.nonEmpty)
    if (partitionCols.isEmpty)
      write(cowMerge(current, updates, keys, allowMissingColumns), schema, table,
        modified = modified)
    else {
      val affected = updates.select(partitionCols.map(col): _*).distinct().collect().toSeq
      if (affected.isEmpty) dest
      else mergeIntoPartitions(updates, schema, table, keys, partitionCols,
        affected, modified, allowMissingColumns, Some(current))
    }
  }

  /** A rewrite in the `partitionCols` layout of `current`, a read of the
    * table, must find the table in that layout: a flat rewrite of a
    * hive-partitioned tree would silently demote its partition columns
    * (every downstream pruning scan degrades to a full read), and
    * partition directories written into a flat table interleave with its
    * files, a layout Spark cannot read coherently. */
  private def requireLayout(current: DataFrame, partitionCols: Seq[String], op: String): Unit = {
    def layout(cols: Seq[String]) =
      if (cols.isEmpty) "flat" else s"hive-partitioned on [${cols.mkString(", ")}]"
    val onDisk = ParquetBridge.partitionColumns(current)
    if (onDisk != partitionCols)
      throw new IllegalStateException(
        s"$op: the table is ${layout(onDisk)}, but the call asks for a " +
          s"${layout(partitionCols)} rewrite, which would demote partition " +
          "columns or mix partition directories with flat files. Pass the " +
          "table's own partitionCols, or rebuild it through write with the " +
          "new ones")
  }

  /** Up-front schema drift check for the merge paths (r13): a drifted
    * updates batch used to die inside `unionByName` with a generic Spark
    * analysis error mid-job; now the mismatch is named — which columns
    * the batch is missing, which it added — BEFORE any work runs, and
    * evolution is an explicit opt-in rather than an accident. Name
    * matching is case-insensitive, like Spark's default resolution. Merge
    * keys must exist on BOTH sides under any mode: a null-filled key
    * column would null-match every row (`<=>`), silently replacing
    * everything in its path. */
  private def validateMergeSchema(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      allowMissingColumns: Boolean,
      op: String,
      partitionScoped: Boolean = false): Unit = {
    val curCols = current.columns.map(_.toLowerCase).toSet
    val updCols = updates.columns.map(_.toLowerCase).toSet
    val keysAbsent = keys.filterNot(k =>
      curCols.contains(k.toLowerCase) && updCols.contains(k.toLowerCase))
    if (keysAbsent.nonEmpty)
      throw new IllegalArgumentException(
        s"$op: merge key column(s) [${keysAbsent.mkString(", ")}] must be " +
          "present in both the current table and the updates batch — " +
          "an evolved (null-filled) key would null-match and replace " +
          "unrelated rows")
    val added = updates.columns.filterNot(c => curCols.contains(c.toLowerCase))
    val missing = current.columns.filterNot(c => updCols.contains(c.toLowerCase))
    if (!allowMissingColumns && (added.nonEmpty || missing.nonEmpty))
      throw new IllegalArgumentException(
        s"$op: updates schema drifted from the current table" +
          (if (missing.nonEmpty)
            s"; missing from updates: [${missing.mkString(", ")}]" else "") +
          (if (added.nonEmpty)
            s"; new in updates: [${added.mkString(", ")}]" else "") +
          ". Align the batch upstream, or pass allowMissingColumns = true " +
          "to evolve the table (absent columns fill with nulls on either " +
          "side)")
    // a partition-scoped merge rewrites ONLY affected partition dirs, so
    // a column that exists only in the updates batch would land in those
    // files and nowhere else — readers without mergeSchema=true would see
    // it appear and vanish depending on which file infers the schema
    if (partitionScoped && allowMissingColumns && added.nonEmpty)
      throw new IllegalArgumentException(
        s"$op: updates add column(s) [${added.mkString(", ")}], but a " +
          "partition-scoped merge cannot evolve untouched partitions — " +
          "the new column would exist only in rewritten files, giving " +
          "readers an inference-order-dependent schema. Rebuild the " +
          "table through write with the evolved schema, then " +
          "merge")
  }

  /** current rows not replaced by `updates` (null-safe key match), plus
    * all of `updates` — the relational core of [[merge]]. Aliased sides so
    * shared column names can't trip ambiguous-attribute analysis. With
    * `allowMissingColumns` the union evolves the schema: columns absent
    * on one side carry nulls there (the schema is validated by
    * [[validateMergeSchema]] before this runs). */
  private def cowMerge(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      allowMissingColumns: Boolean = false): DataFrame = {
    val cur = current.alias("__cur")
    val upd = updates.select(keys.map(col): _*).alias("__upd")
    val cond = keys.map(k => col(s"__cur.$k") <=> col(s"__upd.$k")).reduce(_ && _)
    cur.join(upd, cond, "left_anti")
      .unionByName(updates, allowMissingColumns = allowMissingColumns)
  }

  /** The partition-scoped merge ENGINE. It has two callers: the
    * partitioned branch of [[merge]] (affected = the updates' own
    * partition tuples; `partitionCols ⊆ keys` makes that sufficient) and
    * [[KeyedAppend.land]],
    * the keyed append of every persisted index (affected = the
    * partitions where its probe found one of the batch's keys). The
    * latter also merges on keys the partition value is NOT a function
    * of: IVF reassignment, where a re-ingested id must vanish from its
    * OLD cluster partition while landing in its new one.
    *
    * `affected` names the partitions to REWRITE: their current rows are
    * merged with the updates that fall in them and swapped in through
    * the manifest-recorded crash-recoverable swap. Every update row
    * outside `affected` is an INSERT: it is written once and its files
    * are renamed into their partition directory beside the current
    * files, which are never read or rewritten. The CALLER owns the
    * safety obligation the `partitionCols ⊆ keys` rule otherwise
    * enforces: every current row whose key tuple matches an updates row
    * must live in one of `affected`'s partitions, or that row survives
    * beside its replacement (exactly the corruption the IVF appends'
    * moved-cluster guard detects).
    *
    * `inserted` names partitions the caller knows receive inserts. One
    * of them that already holds [[PqRepo.FoldFiles]] or more data files joins
    * the rewrite instead, so the swap folds it back into one file and
    * repeated appends cannot fragment a partition without bound.
    *
    * Both kinds are written by ONE job into the tmp layout under a
    * leading `graft_mode=swap|add` directory, computed from each row's
    * partition values against the rewrite set. The layout is clustered
    * on the partition columns (the skew-safe AQE rebalance,
    * [[clusterOnPartitions]]) unless every row is an insert and the
    * updates are planned to sit in one task, which writes one file per
    * partition without a shuffle. That test reads the planned partition
    * count ([[ScalePolicy.plannedPartitions]]) and starts no job;
    * updates that hold an exchange count as spread and are clustered.
    * A reader racing the commit sees each partition old, new, or — for
    * an insert the clustered write split into several files — old plus
    * some of its new files.
    *
    * The commit: after the tmp write, a `_merge_manifest.json` under the
    * table dir records every partition in flight — its presence certifies
    * the tmp layout complete — and the moves run
    * ([[promoteMergedPartitions]]); the manifest goes last, so its absence
    * means the table is clean. A crash at any step leaves every partition
    * old or new on disk, never neither and never half-written, and
    * [[recover]] (which this engine, like every entry point, runs before
    * it reads the table or touches tmp) rolls the recorded moves
    * forward. */
  private[graft] def mergeIntoPartitions(
      updates: DataFrame,
      schema: String,
      table: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      affected: Seq[Row],
      modified: Option[String] = None,
      allowMissingColumns: Boolean = false,
      // a caller that already resolved the destination (merge's
      // validation read, an append's probe) passes it here so the table is
      // listed once per merge, not twice; None re-reads. MUST have been
      // created after recovery ran on this table.
      currentFull: Option[DataFrame] = None,
      inserted: Seq[Row] = Nil
  ): Path = {
    val dest = tablePath(schema, table)
    val f = fs(dest)
    // heal any crashed earlier commit BEFORE reading current state or
    // touching tmp/manifest: clobbering the tmp layout and manifest of a
    // crashed merge would lose a partition whose merged data still lived
    // only in tmp (a fast no-op on a clean table)
    recover(schema, table)
    graft.InternalCols.requireAbsent(updates, "PqRepo.mergeIntoPartitions", ModeCol)
    val currentAll = currentFull.getOrElse(ParquetBridge.read(spark, dest))
    val crowded =
      if (inserted.isEmpty) Nil
      else {
        val files = ParquetBridge.filesPerPartition(currentAll, partitionCols).toMap
        inserted.filter(p => files.getOrElse(p, 0) >= PqRepo.FoldFiles)
      }
    val rewrite = (affected ++ crowded).distinct
    val touch =
      if (rewrite.isEmpty) lit(false)
      else rewrite.map { row =>
        partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(row.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)

    // current rows of rewritten partitions only (PartitionFilters prune
    // the rest before I/O; with nothing to rewrite the scan is pruned
    // away), merged with the updates; each row tagged with its mode
    val merged = cowMerge(currentAll.filter(touch), updates, keys, allowMissingColumns)
      .withColumn(ModeCol, when(touch, lit(SwapMode)).otherwise(lit(AddMode)))
    // clustered as in [[write]] (r20/r21): an unclustered
    // dynamic-partition write fragments every touched directory into
    // per-task files that compound across micro-batch merges
    val cluster = rewrite.nonEmpty || ScalePolicy.plannedPartitions(updates) > 1
    val tmp = clearTmp(f, schema, table)
    stampModified(if (cluster) clusterOnPartitions(merged, partitionCols) else merged,
        partitionCols :+ ModeCol, modified)
      .write.mode("overwrite").partitionBy(ModeCol +: partitionCols: _*)
      .parquet(tmp.toString)

    // manifest AFTER the tmp write committed, BEFORE the first move: its
    // presence certifies the tmp layout is complete and records every
    // partition in flight. Moves come from LISTING the tmp layout — the
    // names the writer actually created — never from re-rendering row
    // values: value.toString can drift from the writer's path rendering
    // (e.g. java.sql.Timestamp's trailing ".0"), and a drifted name would
    // record a rewritten partition as empty, silently discarding the
    // whole update at cleanup. A rewritten partition the listing lacks
    // came out empty: its end state is "absent".
    def listed(mode: String): Seq[String] = {
      val base = new Path(tmp, s"$ModeCol=$mode")
      if (f.exists(base)) listPartitionRelDirs(f, base, partitionCols.length) else Nil
    }
    val swapped = listed(SwapMode)
    val moves =
      swapped.map(rel => PartitionMove(rel, Some(s"$ModeCol=$SwapMode/$rel"))) ++
        rewrite.map(partitionRelDir(partitionCols, _)).distinct.filterNot(swapped.toSet)
          .map(rel => PartitionMove(rel, None)) ++
        listed(AddMode).map(rel =>
          PartitionMove(rel, Some(s"$ModeCol=$AddMode/$rel"), add = true))
    writeMergeManifest(schema, table, moves)

    promoteMergedPartitions(f, tmp, dest, moves)
    f.delete(tmp, true)
    f.delete(mergeManifestPath(schema, table), false)
    dest
  }

  /** Heal a crashed earlier commit of a table, so that it is exactly its
    * old or exactly its new version and a read after it sees every row:
    *  - a stamped whole-table promote ([[promote]], a [[write]] or
    *    [[restore]]) rolls forward, archiving included;
    *  - an `_old_` sidecar left by a promote of older versions rolls
    *    back when the table path is empty, else is dropped;
    *  - a partition-scoped merge rolls forward from its
    *    `_merge_manifest.json`.
    * Every mutating entry point runs it first; public so an operator can
    * heal a table without writing to it. Idempotent; returns true when
    * something was repaired. Do not run it concurrently with a writer on
    * the same table. An unstamped tmp layout is left for the next write
    * to clear. */
  def recover(schema: String, table: String): Boolean = {
    val f = fs(tablePath(schema, table))
    val promoted = completePromote(f, schema, table) || recoverSidecar(f, schema, table)
    recoverMerge(f, schema, table) || promoted
  }

  /** The synthetic leading partition column of the merge engine's tmp
    * layout: `swap` directories replace their partition, `add`
    * directories join it. */
  private val ModeCol = "graft_mode"
  private val SwapMode = "swap"
  private val AddMode = "add"

  /** Roll an interrupted [[mergeIntoPartitions]] forward from its
    * committed `_merge_manifest.json`: every recorded partition ends at its
    * merged state (promoted, absent for empty merges, or holding every file
    * the merge added), sidecars and the tmp layout are cleaned, the
    * manifest removed. False when no manifest exists. */
  private def recoverMerge(f: FileSystem, schema: String, table: String): Boolean = {
    val manifest = mergeManifestPath(schema, table)
    if (!f.exists(manifest)) return false
    val moves = readMergeManifest(manifest)
    val tmp = tmpPath(schema, table)
    promoteMergedPartitions(f, tmp, tablePath(schema, table), moves)
    if (f.exists(tmp)) f.delete(tmp, true)
    f.delete(manifest, false)
    true
  }

  /** Idempotent commit of the moves of a merge — the shared engine of
    * [[mergeIntoPartitions]] and [[recoverMerge]].
    *
    * A swap parks the old dir under a reader-invisible sidecar
    * ([[PqRepo.parkedName]]), renames the new dir into place and deletes
    * the sidecar. Re-running after a crash at ANY point completes the
    * partition: a surviving sidecar without new data to place means the
    * promotion already happened and only the sidecar needs cleanup.
    * Sidecars under the `_old_<col>=<v>` name that swaps used before are
    * rolled forward the same way.
    *
    * An add renames the whole new dir into place when the partition does
    * not exist yet, and otherwise moves each file still left in it into
    * the partition: a file already gone from the tmp dir was moved by an
    * earlier run. */
  private def promoteMergedPartitions(
      f: org.apache.hadoop.fs.FileSystem,
      tmp: Path,
      dest: Path,
      moves: Seq[PartitionMove]): Unit =
    moves.foreach { m =>
      val dst = new Path(dest, m.dir)
      val side = new Path(dst.getParent, PqRepo.parkedName(dst.getName))
      // the visible `_old_<col>=<v>` name older swaps parked under
      val sides = Seq(side, new Path(dst.getParent, s"_old_${dst.getName}"))
      def dropSides(): Unit = sides.foreach(s => if (f.exists(s)) f.delete(s, true))
      m.src.map(new Path(tmp, _)) match {
        case Some(src) if m.add =>
          if (f.exists(src)) {
            if (!f.exists(dst)) {
              if (!f.exists(dst.getParent)) f.mkdirs(dst.getParent)
              rename(f, src, dst)
            } else f.listStatus(src)
              .filter(s => s.isFile && !isHiddenName(s.getPath.getName))
              .foreach(s => rename(f, s.getPath, new Path(dst, s.getPath.getName)))
          }
        case Some(src) =>
          if (f.exists(src)) {
            dropSides() // stale from older crash
            if (!f.exists(dst.getParent)) f.mkdirs(dst.getParent)
            if (f.exists(dst)) rename(f, dst, side)
            rename(f, src, dst)
          }
          // src gone ⇒ this partition was already promoted
          dropSides()
        case None =>
          // merged partition is empty: end state is "absent"
          if (f.exists(dst)) f.delete(dst, true)
          dropSides()
      }
    }

  private def isHiddenName(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The `a=1/b=2` relative partition dirs present under `base`, walking
    * exactly `depth` directory levels (sidecars and files skipped) — the
    * writer-authored names, used as promotion truth by
    * [[mergeIntoPartitions]]. */
  private def listPartitionRelDirs(
      f: org.apache.hadoop.fs.FileSystem,
      base: Path,
      depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else f.listStatus(p).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
        .flatMap(s => walk(s.getPath, d - 1))
    // listStatus returns scheme-qualified paths (file:/…): the prefix must
    // be qualified the same way or nothing strips and the "relative" name
    // comes back absolute — which then resolves to itself on BOTH sides of
    // the promote rename
    val prefix = f.makeQualified(base).toString + "/"
    walk(base, depth).map { p =>
      val full = p.toString
      require(full.startsWith(prefix), s"$full not under $prefix")
      full.stripPrefix(prefix)
    }
  }

  /** Hive-escaped relative partition dir (`a=1/b=2`), matching Spark's
    * writer layout for the common types; [[mergeIntoPartitions]] treats the
    * LISTED tmp layout as truth and uses this rendering only for the
    * defensive empty-merge entries. */
  private def partitionRelDir(partitionCols: Seq[String], row: Row): String =
    partitionCols.zipWithIndex.map { case (c, i) =>
      val v = Option(row.get(i)).map(x =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(x.toString))
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
      s"$c=$v"
    }.mkString("/")

  /** The one tmp location of a table, shared by [[write]], [[restore]]
    * and [[mergeIntoPartitions]]. */
  private def tmpPath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"_tmp_$table.parquet")

  /** Delete a stale tmp layout (after [[recover]] ran, nothing in it is
    * committed) and return the tmp path. */
  private def clearTmp(f: FileSystem, schema: String, table: String): Path = {
    val tmp = tmpPath(schema, table)
    if (f.exists(tmp)) f.delete(tmp, true)
    tmp
  }

  private def oldSidecarPath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"_old_$table.parquet")

  private def rename(f: FileSystem, from: Path, to: Path): Unit =
    if (!f.rename(from, to))
      throw new java.io.IOException(s"Could not move $from to $to")

  /** The stamp that makes a complete tmp layout the table's next version. */
  private val PromoteFileName = "_graft_promote.json"
  private val ArchiveProp = "archive"

  /** Stamp the layout at `dir` (the tmp layout, or a snapshot about to
    * become it) for [[completePromote]], naming where the replaced table
    * goes: `archiveTo`, or the hidden `_old_` sidecar. */
  private def stampPromote(f: FileSystem, dir: Path, archiveTo: Option[Path]): Unit =
    writeMetaFile(f, new Path(dir, PromoteFileName),
      archiveTo.map(a => Map(ArchiveProp -> a.toString)).getOrElse(Map.empty))

  /** The one whole-table commit of a complete tmp layout: stamp it, then
    * [[completePromote]]. */
  private def promote(f: FileSystem, schema: String, table: String, archiveTo: Option[Path]): Unit = {
    stampPromote(f, tmpPath(schema, table), archiveTo)
    completePromote(f, schema, table)
  }

  /** Carry a stamped promote through from wherever it stopped: the
    * replaced table moves to the archive or aside to the `_old_` sidecar,
    * the tmp layout renames into the table path, then the sidecar and the
    * stamp are deleted. Before the stamp the old table stands; from the
    * stamp on, every run ends at the new one (with the old one archived
    * when asked). Between the two renames a reader finds no table until
    * this completes. Idempotent; false when no promote was in flight. */
  private def completePromote(f: FileSystem, schema: String, table: String): Boolean = {
    val dest = tablePath(schema, table)
    val tmp = tmpPath(schema, table)
    val side = oldSidecarPath(schema, table)
    val stamp = new Path(tmp, PromoteFileName)
    val landed = new Path(dest, PromoteFileName)
    val pending = f.exists(stamp)
    if (!pending && !f.exists(landed)) return false
    if (pending) {
      if (f.exists(dest)) {
        val aside = readMetaFile(f, stamp).get(ArchiveProp).map(new Path(_)).getOrElse(side)
        if (f.exists(aside)) f.delete(aside, true)
        if (!f.exists(aside.getParent)) f.mkdirs(aside.getParent)
        rename(f, dest, aside)
      }
      rename(f, tmp, dest)
    }
    if (f.exists(side)) f.delete(side, true)
    f.delete(landed, false)
    true
  }

  /** An `_old_` sidecar with no stamp in flight, left by a promote that
    * parked the table unstamped: it IS the table when the table path is
    * empty (renamed back), else a leftover (dropped). */
  private def recoverSidecar(f: FileSystem, schema: String, table: String): Boolean = {
    val side = oldSidecarPath(schema, table)
    val dest = tablePath(schema, table)
    if (!f.exists(side)) return false
    if (f.exists(dest)) f.delete(side, true) else rename(f, side, dest)
    true
  }

  private val MetaFileName = "_graft_meta.json"

  private def tableMetaPath(schema: String, table: String): Path =
    new Path(tablePath(schema, table), MetaFileName)

  /** Serialize a property map as a meta-sidecar JSON file at `path`. */
  private def writeMetaFile(
      f: FileSystem, path: Path, props: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val out = f.create(path, true)
    try out.write(mapper.writeValueAsBytes(node))
    finally out.close()
  }

  /** Attach a small string-property sidecar (`_graft_meta.json`) to a
    * table — index geometry or layout spec the data files can't carry,
    * e.g. the bucket count a hash-partitioned layout was built with or
    * the sort/z-order columns [[compact]] must re-apply.
    * Underscore-prefixed, so parquet readers never see it, and stored
    * INSIDE the table dir, so it survives a partitioned [[merge]] (which
    * swaps partition subdirs, not the table dir) but is correctly dropped
    * by any whole-table rewrite ([[write]] replaces the dir) — stale
    * geometry cannot outlive the layout it describes; rebuilders re-stamp
    * it. Writers that create the layout should pass `metaProps` to
    * [[write]] instead, which stamps
    * the sidecar INSIDE the tmp layout so it promotes atomically with the
    * files; this standalone path (for annotating an existing table)
    * stages through a hidden tmp file + rename, so a crash can at worst
    * lose the update, never leave a torn sidecar. */
  def writeTableMeta(
      schema: String, table: String, props: Map[String, String]): Path = {
    recover(schema, table)
    val p = tableMetaPath(schema, table)
    val f = fs(p)
    require(f.exists(tablePath(schema, table)),
      s"no table $schema/$table to attach metadata to")
    val staging = new Path(tablePath(schema, table), s".$MetaFileName.tmp")
    writeMetaFile(f, staging, props)
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(staging, p))
      throw new java.io.IOException(s"Could not publish sidecar $staging to $p")
    p
  }

  /** The table's property sidecar, or empty when none was stamped. */
  def readTableMeta(schema: String, table: String): Map[String, String] = {
    val p = tableMetaPath(schema, table)
    val f = fs(p)
    if (f.exists(p)) readMetaFile(f, p) else Map.empty
  }

  /** The property map of a file [[writeMetaFile]] wrote. */
  private def readMetaFile(f: FileSystem, p: Path): Map[String, String] = {
    val in = f.open(p)
    val json =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val it = root.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  private def mergeManifestPath(schema: String, table: String): Path =
    new Path(tablePath(schema, table), "_merge_manifest.json")

  private def writeMergeManifest(
      schema: String,
      table: String,
      moves: Seq[PartitionMove]): Unit = {
    val manifest = mergeManifestPath(schema, table)
    // dir and src are hive-escaped (quotes/backslashes already
    // %-encoded), so the strings embed into JSON verbatim. A swap or an
    // empty partition keeps the `{"dir","hasNew"}` form, whose src is
    // the dir itself when absent; an add is marked `"add":true`.
    val json = moves.map { m =>
      val src = m.src.fold("")(s => s""","src":"$s"""")
      if (m.add) s"""{"dir":"${m.dir}","add":true$src}"""
      else s"""{"dir":"${m.dir}","hasNew":${m.src.nonEmpty}$src}"""
    }.mkString(
      s"""{"table":"$table","tmp":"${tmpPath(schema, table)}","partitions":[""",
      ",", "]}")
    val out = fs(manifest).create(manifest, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMergeManifest(manifest: Path): Seq[PartitionMove] = {
    val in = fs(manifest).open(manifest)
    val json =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val parts = root.get("partitions")
    (0 until parts.size()).map { i =>
      val e = parts.get(i)
      val dir = e.get("dir").asText()
      val src = Option(e.get("src")).map(_.asText()).getOrElse(dir)
      val add = Option(e.get("add")).exists(_.asBoolean())
      if (add) PartitionMove(dir, Some(src), add = true)
      else PartitionMove(dir, if (e.get("hasNew").asBoolean()) Some(src) else None)
    }
  }

  /** Z-ordered write: rows are laid out along the Morton curve of
    * `zCols`, so every output file covers a small hyper-rectangle in ALL
    * the indexed dimensions and parquet min/max stats skip files for
    * filters on any of them — where [[writeSorted]] only serves its
    * leading column (see [[graft.functions.ZOrder]]).
    *
    * One cheap min/max aggregation normalizes each column onto the curve
    * domain (a driver-side handful of doubles — no rank shuffle); the
    * data then takes exactly one range shuffle on the z-value, like
    * writeSorted does on its keys. */
  def writeZOrdered(
      df: DataFrame,
      schema: String,
      table: String,
      zCols: Seq[String],
      numFiles: Int,
      bits: Int = 16,
      modified: Option[String] = None
  ): Path =
    // layout spec stamped like [[writeSorted]]'s, so [[compact]] re-lays
    // along the same Morton curve instead of silently de-clustering
    write(zOrderLayout(df, zCols, numFiles, bits), schema, table,
      modified = modified, metaProps = Some(zLayoutMeta(zCols, numFiles, bits)))

  private def zOrderLayout(
      df: DataFrame, zCols: Seq[String], numFiles: Int, bits: Int): DataFrame = {
    import graft.functions.ZOrder
    graft.InternalCols.requireAbsent(df, "PqRepo.writeZOrdered", "__z")
    val bounds = df.select(
      zCols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))): _*
    ).head()
    val normalized = zCols.map { c =>
      ZOrder.normalize(col(c),
        lit(bounds.getAs[Any](s"__min_$c")), lit(bounds.getAs[Any](s"__max_$c")), bits)
    }
    df.withColumn("__z", ZOrder.zValue(normalized, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Write a table bucketed (and per-bucket sorted) on join/grouping keys,
    * registered in the session catalog with its data under the repo layout.
    * Joins and aggregations between tables bucketed the same way need no
    * shuffle — the 100 TB co-location pattern (see `q_bucketed_join`).
    * Catalog name: `<schema>_<table>` (session-scoped). */
  def writeBucketed(
      df: DataFrame,
      schema: String,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int
  ): String = {
    val catalogName = s"${schema}_$table"
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", new Path(new Path(dataDir, schema), s"$table.bucketed").toString)
      .saveAsTable(catalogName)
    catalogName
  }

  /** Replace the embedded `last_modified` comment (the repo analog of
    * reference set_table_comment, postgres/comments.py:35). Parquet footers
    * are immutable, so this rewrites the table through the normal
    * tmp+promote path — an admin-rate operation. A flat rewrite only: a
    * hive-partitioned table is refused. */
  def setComment(schema: String, table: String, comment: String): Path = {
    recover(schema, table)
    val current = this.table(schema, table)
    requireLayout(current, Nil, s"setComment($schema/$table)")
    write(current, schema, table, modified = Some(comment))
  }

  /** Write with piggybacked data-quality metrics: the aliased aggregate
    * `metrics` (row counts, null counts, min/max freshness, …) are
    * computed BY the write job itself via `Dataset.observe` — zero extra
    * passes over the data, which is the only affordable way to collect
    * load metrics on a 100 TB export (a separate validation query would
    * double the scan). Returns the final path plus the observed values. */
  def writeObserved(
      df: DataFrame,
      schema: String,
      table: String,
      metrics: Seq[org.apache.spark.sql.Column],
      modified: Option[String] = None
  ): (Path, Map[String, Any]) = {
    require(metrics.nonEmpty, "need at least one metric column")
    val obs = org.apache.spark.sql.Observation(s"graft_write_${schema}_$table")
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val path = write(observed, schema, table, modified = modified)
    (path, obs.get)
  }

  /** Compact a table to a bounded file layout — the maintenance pass after
    * many incremental/small writes (task-sized files accumulate; small
    * files break scan parallelism planning and metadata caches at scale).
    * Runs [[recover]] first, so it never compacts a table a crashed merge
    * left with a partition parked, then rewrites through [[write]]'s
    * tmp+promote body minus its clustering (readers never see a
    * half-compacted table) and preserves the embedded `last_modified`.
    *
    * Hive-partitioned tables (r12) compact WITHOUT flattening: rows
    * re-lay per partition value (repartition on the partition columns —
    * exactly where incremental partitioned [[merge]] runs accumulate
    * task-sized files), the directory tree and any `_graft_meta.json`
    * sidecar survive (the preserved sidecar travels inside the tmp
    * layout, so no crash point can strip a healthy index of its
    * geometry — r13). A flat rewrite here would have demoted the
    * partition columns to data columns and broken every downstream
    * pruning scan.
    *
    * LAYOUT-PRESERVING (r13): a table written by [[writeSorted]] /
    * [[writeZOrdered]] carries its layout spec in the meta sidecar, and
    * compact RE-APPLIES it — range-repartition + within-file sort on the
    * recorded sort (or Morton) columns — instead of coalescing arbitrary
    * file unions. Without this, maintenance quietly widened per-file
    * min/max ranges and the data skipping those writers exist for
    * degraded on exactly the tables someone cared enough to lay out.
    * `targetPartitions` overrides the recorded file count (and the
    * re-stamped spec records the new count). */
  def compact(
      schema: String,
      table: String,
      targetPartitions: Option[Int] = None,
      maxRecordsPerFile: Option[Long] = None,
      parquetBlockBytes: Option[Long] = None
  ): Path = {
    recover(schema, table)
    val src = this.table(schema, table)
    val pcols = ParquetBridge.partitionColumns(src)
    val meta = readTableMeta(schema, table)
    val layoutCols = meta.get(LayoutColsProp).map(_.split(",").toSeq).getOrElse(Nil)
    val n = targetPartitions
      .orElse(meta.get(LayoutFilesProp).flatMap(s => scala.util.Try(s.toInt).toOption))
    // `laid` carries compact's own layout, so the write skips its
    // clustering, which would collapse over it and ignore the file-count goal
    val (laid, newMeta) = meta.get(LayoutKindProp) match {
      case _ if pcols.nonEmpty =>
        val cols = pcols.map(col)
        (targetPartitions.map(src.repartition(_, cols: _*))
          .getOrElse(src.repartition(cols: _*)), meta)
      case Some("sorted") if layoutCols.nonEmpty && n.isDefined =>
        (sortedLayout(src, layoutCols, n.get),
          meta + (LayoutFilesProp -> n.get.toString))
      case Some("zorder") if layoutCols.nonEmpty && n.isDefined =>
        val bits = meta.get(LayoutBitsProp)
          .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(16)
        (zOrderLayout(src, layoutCols, n.get, bits),
          meta + (LayoutFilesProp -> n.get.toString))
      case _ =>
        (targetPartitions.map(src.coalesce).getOrElse(src), meta)
    }
    writeLayout(laid, schema, table, pcols, lastModified(schema, table), None,
      maxRecordsPerFile, parquetBlockBytes, Some(newMeta))
  }

  /** Remove an active or archived table (reference pq_remove). */
  def remove(
      schema: String,
      table: String,
      archived: Boolean = false,
      archiveDir: String = "archive"
  ): Boolean = {
    // a stamped promote left behind would bring the table back
    if (!archived) recover(schema, table)
    val p =
      if (archived) new Path(archivePath(schema, archiveDir), s"$table.parquet")
      else tablePath(schema, table)
    val f = fs(p)
    f.exists(p) && f.delete(p, true)
  }

  /** Update gate + write: export only when the source comment is newer than
    * the stored table's metadata, unless forced (reference _update_pq,
    * core.py:895-952). Returns the written path, or None when up to date
    * or the source has no parseable timestamp. */
  def updateWrite(
      df: => DataFrame,
      schema: String,
      table: String,
      sourceComment: Option[String],
      force: Boolean = false,
      archiveExisting: Boolean = false
  ): Option[Path] = {
    recover(schema, table) // the gate reads the healed table's stamp
    val src = Modified.info("src", sourceComment)
    val dst = Modified.info("pq", lastModified(schema, table))
    val proceed = force || (src.date.isDefined && Modified.updateAvailable(src, dst))
    if (!proceed) None
    else Some(write(df, schema, table, modified = sourceComment,
      archiveExisting = archiveExisting))
  }
}

object PqRepo {

  /** Data files at which a partition that receives inserts is rewritten
    * instead (see [[PqRepo.mergeIntoPartitions]]). Every extra file per
    * partition slows the index reads: on a 6k-doc MinHash index (8
    * buckets) and a 20k-vector IVF index (64 clusters), 4 cores,
    * `MinHashIndex.dropNearKnown` took 877 ms at 4 files and 1363 ms at
    * 8 against 493 and 458 ms on the same rows compacted to 1 file, and
    * `Similarity.ivfSearch` 600 and 689 ms against 320 and 300 ms. An
    * insert saves about 0.4 s of rewrite per append at that scale, so
    * with each append gated by a probe the cycle is cheapest when a
    * partition folds back at 4 files. */
  private[graft] val FoldFiles = 4

  /** One partition directory a merge commits: `src` (relative to the tmp
    * layout) replaces `dir`, or with `add` joins its files to it; with
    * no `src` the partition came out empty and `dir` ends absent. */
  private[sources] final case class PartitionMove(
      dir: String, src: Option[String], add: Boolean = false)

  /** The name a partition directory is parked under while
    * [[PqRepo.mergeIntoPartitions]] swaps it: `_old_` and the hive-escaped
    * directory name. It holds no `=`, so Spark's hidden-path rule
    * (`HadoopFSUtils.shouldFilterOutPathName`), which the repo's reads
    * use too, skips it. A `_old_<col>=<v>` name would not be skipped: it
    * reads as a partition directory of column `_old_<col>`, and the read
    * fails with conflicting partition column names. */
  private[sources] def parkedName(dir: String): String =
    "_old_" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(dir)
}
