package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.sql.types.MetadataBuilder

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
  * the idiomatic Spark layout, written in parallel by every executor.
  */
final case class PqRepo(spark: SparkSession, dataDir: String) {

  val MetadataKey = "graft.last_modified"

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"$table.parquet")

  private def archivePath(schema: String, archiveDir: String): Path =
    new Path(new Path(dataDir, schema), archiveDir)

  /** Read a repository table. */
  def table(schema: String, table: String): DataFrame =
    spark.read.parquet(tablePath(schema, table).toString)

  /** Write `df` as `<schema>/<table>.parquet`, embedding `modified` in the
    * schema metadata, with temp-write + atomic promote and optional archive
    * of the replaced table. Returns the final path.
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
      metaProps: Option[Map[String, String]] = None
  ): Path = {
    val dest = tablePath(schema, table)
    // deliberately the same tmp path mergePartitioned uses: a concurrent
    // write and merge of one table collide on it instead of interleaving
    val tmp = mergeTmpPath(schema, table)
    val f = fs(dest)

    val out = stampModified(df, Nil, modified)

    recoverWrite(schema, table)
    if (f.exists(tmp)) f.delete(tmp, true)
    val writer = out.write.mode("overwrite")
    maxRecordsPerFile.foreach(n => writer.option("maxRecordsPerFile", n))
    parquetBlockBytes.foreach(b => writer.option("parquet.block.size", b))
    writer.parquet(tmp.toString)
    // the property sidecar is written INTO the tmp layout, so it travels
    // atomically with the files it describes through the promote swap —
    // no crash point can leave a promoted layout without its sidecar
    metaProps.filter(_.nonEmpty).foreach(p =>
      writeMetaFile(f, new Path(tmp, MetaFileName), p))

    if (archiveExisting && f.exists(dest)) archive(schema, table, archiveDir)
    promoteTable(f, tmp, schema, table)
    dest
  }

  /** Embedded `last_modified` for a table, if any (reference
    * get_modified_pq, parquet.py:280). */
  def lastModified(schema: String, table: String): Option[String] = {
    val p = tablePath(schema, table)
    if (!fs(p).exists(p)) return None
    spark.read.parquet(p.toString).schema.fields
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
    * last-modified time or `unknown_modified` (reference pq_archive). */
  def archive(schema: String, table: String, archiveDir: String = "archive"): Option[Path] = {
    val src = tablePath(schema, table)
    val f = fs(src)
    if (!f.exists(src)) return None
    val stamp = lastModified(schema, table)
      .flatMap(Modified.parseFileSafe)
      .getOrElse("unknown_modified")
    val destDir = archivePath(schema, archiveDir)
    f.mkdirs(destDir)
    val dest = new Path(destDir, s"${table}_$stamp.parquet")
    if (f.exists(dest)) f.delete(dest, true)
    if (!f.rename(src, dest))
      throw new java.io.IOException(s"Could not archive $src to $dest")
    Some(dest)
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
    * currently-active table first (reference pq_restore). */
  def restore(
      archivedBasename: String,
      schema: String,
      archiveCurrent: Boolean = true,
      archiveDir: String = "archive"
  ): Option[Path] = {
    val stem = archivedBasename.stripSuffix(".parquet")
    val src = new Path(archivePath(schema, archiveDir), s"$stem.parquet")
    val f = fs(src)
    if (!f.exists(src)) return None
    restoreBasename(stem).flatMap { table =>
      val dest = tablePath(schema, table)
      if (f.exists(dest)) {
        if (!archiveCurrent) return None
        archive(schema, table, archiveDir)
      }
      if (!f.rename(src, dest))
        throw new java.io.IOException(s"Could not restore $src to $dest")
      Some(dest)
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
      .map { case (_, path) => spark.read.parquet(path.toString) }

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
      t -> spark.read.parquet(path.toString)
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

  /** Hive-style partitioned write: `<table>.parquet/<col>=<value>/...`.
    * At lake scale, partitioning on coarse keys (date, source) lets every
    * downstream filter on those keys prune whole directories before any
    * I/O (PartitionFilters in the scan, not data filters) — see the
    * partition-pruning plan audit. */
  def writePartitioned(
      df: DataFrame,
      schema: String,
      table: String,
      partitionCols: Seq[String],
      modified: Option[String] = None,
      maxRecordsPerFile: Option[Long] = None,
      parquetBlockBytes: Option[Long] = None,
      metaProps: Option[Map[String, String]] = None,
      cluster: Boolean = true
  ): Path = {
    val dest = tablePath(schema, table)
    // same tmp + sidecar promote as [[write]] (r12): the partitioned
    // layout appears atomically — readers never observe a half-written
    // partition tree, and no crash point loses the previous table
    val tmp = mergeTmpPath(schema, table)
    val f = fs(dest)
    recoverWrite(schema, table)
    if (f.exists(tmp)) f.delete(tmp, true)
    // cluster rows on the partition columns before the dynamic-partition
    // write (r20 optimization, guide §6 small files / §2.4): without it
    // EVERY shuffle task holds rows of every partition value and writes
    // one file per (task, value) — `values × tasks` small files whose
    // open/list/swap floors then dominate every later scan and merge
    // (measured 54 s/rep on the streamed sf0.1 MinHash query, ~6 s
    // clustered — the r20 MinHashIndex call-site fix, now hoisted here so
    // every partitioned layout gets it). [[compact]] passes
    // cluster = false: it lays out rows itself (targetPartitions
    // override) and a second shuffle here would collapse over the
    // caller's and override its file-count goal.
    val laid = clusterOnPartitions(df, partitionCols, cluster)
    val writer = stampModified(laid, partitionCols, modified)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
    maxRecordsPerFile.foreach(n => writer.option("maxRecordsPerFile", n))
    parquetBlockBytes.foreach(b => writer.option("parquet.block.size", b))
    writer.parquet(tmp.toString)
    // sidecar travels atomically inside the tmp layout (see [[write]]) —
    // an index build can no longer crash into a promoted layout whose
    // geometry sidecar is missing
    metaProps.filter(_.nonEmpty).foreach(p =>
      writeMetaFile(f, new Path(tmp, MetaFileName), p))
    promoteTable(f, tmp, schema, table)
    dest
  }

  /** The shared pre-write clustering for partitioned layouts: an AQE
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
  private def clusterOnPartitions(
      df: DataFrame, partitionCols: Seq[String], cluster: Boolean): DataFrame =
    if (cluster && partitionCols.nonEmpty)
      df.hint("rebalance", partitionCols.map(col): _*)
    else df

  /** The table's hive partition columns, inferred from its directory
    * layout (one `col=value` level per partition column) — empty for a
    * flat table. */
  def partitionColsOf(schema: String, table: String): Seq[String] = {
    val dest = tablePath(schema, table)
    val f = fs(dest)
    if (!f.exists(dest)) return Nil
    val cols = Seq.newBuilder[String]
    var cur = dest
    var done = false
    while (!done) {
      f.listStatus(cur).find(s =>
        s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith("_")) match {
        case Some(s) =>
          cols += s.getPath.getName.split("=", 2)(0)
          cur = s.getPath
        case None => done = true
      }
    }
    cols.result()
  }

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
    * atomic tmp+promote machinery. The current table is read while the
    * tmp file is written and the destination only changes at the promote
    * rename, so readers never observe a partial merge and a mid-job crash
    * leaves the original intact.
    *
    * Scale shape: one anti join on the key tuple (updates broadcast while
    * they fit — the common case for incremental loads) plus a full
    * rewrite of the surviving rows. Whole-table COW is the right default
    * below the partition-pruning threshold; for very large tables merge
    * partition-by-partition over a [[writePartitioned]] layout instead.
    *
    * `updates` must be key-unique: rows sharing a key tuple within one
    * updates batch all land (this operator does not pick a winner —
    * dedupe upstream with [[graft.operators.Dedup.exact]] if the batch
    * can carry replays).
    *
    * The key join is null-safe (`<=>`): a NULL-keyed update REPLACES an
    * existing NULL-keyed row instead of appending beside it. A missing
    * destination is an empty current table, so the first merge is a plain
    * insert — idempotent bootstrap for incremental loaders. */
  def merge(
      updates: DataFrame,
      schema: String,
      table: String,
      keys: Seq[String],
      modified: Option[String] = None,
      allowMissingColumns: Boolean = false
  ): Path = {
    require(keys.nonEmpty, "merge needs at least one key column")
    recoverWrite(schema, table) // heal a crashed earlier promote first
    requireFlatLayout(schema, table, "merge")
    val dest = tablePath(schema, table)
    if (!fs(dest).exists(dest))
      return write(updates, schema, table, modified = modified)
    val current = this.table(schema, table)
    validateMergeSchema(current, updates, keys, allowMissingColumns,
      s"merge($schema/$table)")
    val merged = cowMerge(current, updates, keys, allowMissingColumns)
    write(merged, schema, table, modified = modified)
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
          "table through writePartitioned with the evolved schema, then " +
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

  /** Partition-pruned copy-on-write MERGE over a [[writePartitioned]]
    * layout: rewrites ONLY the hive partitions that carry updated or new
    * keys; untouched partitions' files are never read, rewritten, or even
    * listed — on a 100 TB date-partitioned table an incremental load
    * touching 3 days rewrites 3 directories, not the lake.
    *
    * Requires `partitionCols ⊆ keys`: then a key can never move between
    * partitions, so replacing within affected partitions is exactly
    * whole-table merge semantics restricted to the partitions updates
    * touch. The affected partition tuples are collected driver-side (a
    * partition count, bounded by design — hive partitioning only works
    * with coarse keys) and become an OR-of-conjunctions source filter, so
    * the current-side scan partition-prunes.
    *
    * Each affected partition is written to a temp table then swapped in
    * via sidecar renames (old dir → `_old_*` sidecar, new dir into place,
    * sidecar deleted), so EVERY crash point leaves the partition's old or
    * new directory present — never neither, never half-written (the `_`
    * prefix hides the sidecar from readers). A reader racing the swap can
    * still observe some partitions old and some new — use whole-table
    * [[merge]] when cross-partition snapshot atomicity matters more than
    * the rewrite cost.
    *
    * Before the first swap (and after the tmp write has fully committed) a
    * `_merge_manifest.json` is written under the table dir recording every
    * partition the swap will touch and whether the tmp layout holds new
    * data for it. An interrupted merge is therefore diagnosable (the
    * manifest names exactly the dirs in flight) and resumable:
    * [[recoverMergePartitioned]] rolls the recorded swap forward, and the
    * next [[mergePartitioned]] call runs that recovery automatically
    * before reading current state. The manifest is deleted only after all
    * swaps land, so its absence means the table is clean.
    *
    * `updates` is evaluated at least twice — once to collect its
    * distinct partition tuples, again by the write — so it must be
    * deterministic across re-execution or already materialized. A batch
    * that changes between the evaluations can write a partition the
    * collect never saw: its current rows are never read, so the swap
    * replaces that partition with the batch's rows alone. */
  def mergePartitioned(
      updates: DataFrame,
      schema: String,
      table: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      modified: Option[String] = None,
      allowMissingColumns: Boolean = false
  ): Path = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(partitionCols.nonEmpty && partitionCols.forall(keys.contains),
      s"partition columns $partitionCols must be a subset of the merge " +
        s"keys $keys (otherwise a key could move partitions and its old " +
        "row would survive)")
    val dest = tablePath(schema, table)
    val f = fs(dest)
    // a manifest from a crashed previous merge — or a whole-table promote
    // that crashed mid-swap: roll both forward first, so the current-side
    // read below sees a consistent table
    recoverWrite(schema, table)
    recoverMergePartitioned(schema, table)
    if (!f.exists(dest))
      return writePartitioned(updates, schema, table, partitionCols, modified)

    // ONE resolved read of the destination serves both the schema
    // validation and the merge engine's current-side scan (r20): each
    // `spark.read.parquet(dest)` eagerly lists the partition tree and
    // reads footers for schema inference — a fixed driver-side cost that
    // used to be paid twice per merge, which compounds across streamed
    // micro-batch appends. Safe because recovery already ran above, so
    // the listing sees a consistent table.
    val current = spark.read.parquet(dest.toString)
    validateMergeSchema(current, updates, keys,
      allowMissingColumns, s"mergePartitioned($schema/$table)",
      partitionScoped = true)
    // the partitions this batch touches: a driver-side list of tuples,
    // collected only after the bootstrap check
    val affected =
      updates.select(partitionCols.map(col): _*).distinct().collect().toSeq
    mergeIntoPartitions(updates, schema, table, keys, partitionCols,
      affected, modified, allowMissingColumns, Some(current))
  }

  /** The partition-scoped merge ENGINE, shared by [[mergePartitioned]]
    * (affected = the updates' own partition tuples; `partitionCols ⊆
    * keys` makes that sufficient) and by callers that merge on a key the
    * partition value is NOT a function of — e.g. IVF reassignment, where
    * a re-ingested id must vanish from its OLD cluster partition while
    * landing in its new one. The CALLER owns the safety obligation the
    * `partitionCols ⊆ keys` rule otherwise enforces: every current row
    * whose key tuple matches an updates row must live in one of
    * `affected`'s partitions, or stale rows survive outside the rewrite
    * scope (exactly the corruption appendToIvfIndex's moved-id guard
    * detects). Rewrites only `affected` partition dirs via the
    * manifest-recorded crash-recoverable swap; untouched partitions are
    * never read or rewritten. */
  private[graft] def mergeIntoPartitions(
      updates: DataFrame,
      schema: String,
      table: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      affected: Seq[org.apache.spark.sql.Row],
      modified: Option[String] = None,
      allowMissingColumns: Boolean = false,
      // a caller that already resolved the destination (mergePartitioned's
      // validation read) passes it here so the table is listed once per
      // merge, not twice; None re-reads (direct engine callers). MUST have
      // been created after recovery ran on this table.
      currentFull: Option[DataFrame] = None
  ): Path = {
    val dest = tablePath(schema, table)
    val f = fs(dest)
    if (affected.isEmpty) return dest
    // heal any crashed earlier promote or merge BEFORE reading current
    // state or touching tmp/manifest: a mid-swap table has partitions
    // parked as reader-invisible `_old_` sidecars, and clobbering the tmp
    // layout + manifest below would permanently lose a partition whose
    // merged data still lived only in tmp. mergePartitioned runs these at
    // entry too (both are fast no-ops on a clean table), but direct
    // engine callers — reassignIvfIndex — previously skipped them,
    // contradicting its every-crash-point-recovers contract.
    recoverWrite(schema, table)
    recoverMergePartitioned(schema, table)
    val touchFilter = affected.map { row =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(row.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)

    // current rows of affected partitions only (PartitionFilters prune the
    // rest before I/O), merged with the updates
    val current = currentFull.getOrElse(spark.read.parquet(dest.toString))
      .filter(touchFilter)
    val merged = cowMerge(current, updates, keys, allowMissingColumns)

    // write affected partitions to a tmp layout, then swap each directory.
    // The merged frame is CLUSTERED on the partition columns first (r20,
    // same rationale as [[writePartitioned]]): the union of current rows
    // and updates arrives task-fragmented, and an unclustered dynamic-
    // partition write would fragment every touched directory into
    // per-task files that compound across micro-batch merges — the
    // dominant cost of the streamed index-maintenance queries (measured:
    // the sf0.1 MinHash stream at 54 s/rep un-clustered). r21: the
    // clustering is the skew-safe AQE rebalance ([[clusterOnPartitions]])
    // — a hot partition value rewrites on several bounded tasks instead
    // of one straggler.
    val tmp = mergeTmpPath(schema, table)
    if (f.exists(tmp)) f.delete(tmp, true)
    stampModified(clusterOnPartitions(merged, partitionCols, cluster = true),
        partitionCols, modified)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp.toString)

    // manifest AFTER the tmp write committed, BEFORE the first swap: its
    // presence certifies the tmp layout is complete and records which
    // partitions are in flight (hasNew=false ⇒ the merged partition came
    // out empty and the destination dir's end state is "absent").
    // hasNew entries come from LISTING the tmp layout — the names the
    // writer actually created — never from re-rendering row values:
    // value.toString can drift from the writer's path rendering (e.g.
    // java.sql.Timestamp's trailing ".0"), and a drifted name would
    // record hasNew=false for a partition whose merged data is sitting in
    // tmp, silently discarding the whole update at cleanup
    val newRels = listPartitionRelDirs(f, tmp, partitionCols.length)
    val computed = affected.map(partitionRelDir)
    val entries = newRels.map(_ -> true) ++
      computed.filterNot(newRels.toSet).map(_ -> false)
    writeMergeManifest(schema, table, entries)

    promoteMergedPartitions(f, tmp, dest, entries)
    f.delete(tmp, true)
    f.delete(mergeManifestPath(schema, table), false)
    dest
  }

  /** Roll an interrupted [[mergePartitioned]] forward from its committed
    * `_merge_manifest.json`: every recorded partition ends at its merged
    * state (promoted, or absent for empty merges), sidecars and the tmp
    * layout are cleaned, the manifest removed. Idempotent; a no-op
    * returning false when no manifest exists (the table is clean). */
  def recoverMergePartitioned(schema: String, table: String): Boolean = {
    val manifest = mergeManifestPath(schema, table)
    val f = fs(manifest)
    if (!f.exists(manifest)) return false
    val entries = readMergeManifest(manifest)
    val tmp = mergeTmpPath(schema, table)
    promoteMergedPartitions(f, tmp, tablePath(schema, table), entries)
    if (f.exists(tmp)) f.delete(tmp, true)
    f.delete(manifest, false)
    true
  }

  /** Idempotent swap of merged partition dirs into the table — the shared
    * engine of [[mergePartitioned]] and [[recoverMergePartitioned]]. Per
    * partition: old dir renamed to a reader-invisible `_old_` sidecar, new
    * dir renamed into place, sidecar deleted. Re-running after a crash at
    * ANY point completes the partition: a surviving sidecar without new
    * data to place means the promotion already happened (hasNew partitions
    * whose tmp dir is gone) and only the sidecar needs cleanup. */
  private def promoteMergedPartitions(
      f: org.apache.hadoop.fs.FileSystem,
      tmp: Path,
      dest: Path,
      entries: Seq[(String, Boolean)]): Unit =
    entries.foreach { case (rel, hasNew) =>
      val src = new Path(tmp, rel)
      val dst = new Path(dest, rel)
      val side = new Path(dst.getParent, s"_old_${dst.getName}")
      if (hasNew) {
        if (f.exists(src)) {
          if (f.exists(side)) f.delete(side, true) // stale from older crash
          f.mkdirs(dst.getParent)
          if (f.exists(dst) && !f.rename(dst, side))
            throw new java.io.IOException(s"Could not sidecar $dst to $side")
          if (!f.rename(src, dst))
            throw new java.io.IOException(s"Could not promote $src to $dst")
        }
        // src gone ⇒ this partition was already promoted
        if (f.exists(side)) f.delete(side, true)
      } else {
        // merged partition is empty: end state is "absent"
        if (f.exists(dst)) f.delete(dst, true)
        if (f.exists(side)) f.delete(side, true)
      }
    }

  /** The `a=1/b=2` relative partition dirs present under `base`, walking
    * exactly `depth` directory levels (sidecars and files skipped) — the
    * writer-authored names, used as promotion truth by
    * [[mergePartitioned]]. */
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
    * writer layout for the common types; [[mergePartitioned]] treats the
    * LISTED tmp layout as truth and uses this rendering only for the
    * defensive empty-merge entries. */
  private def partitionRelDir(row: org.apache.spark.sql.Row): String =
    row.schema.fieldNames.zipWithIndex.map { case (c, i) =>
      val v = Option(row.get(i)).map(x =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(x.toString))
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
      s"$c=$v"
    }.mkString("/")

  private def mergeTmpPath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"_tmp_$table.parquet")

  private def oldSidecarPath(schema: String, table: String): Path =
    new Path(new Path(dataDir, schema), s"_old_$table.parquet")

  /** Whole-table ops that rewrite through the FLAT [[write]] path must
    * refuse hive-partitioned trees: the rewrite would demote partition
    * columns to data columns — every downstream partition-pruning scan
    * silently degrades to a full read — and a later [[mergePartitioned]]
    * would interleave partition dirs with flat files, a layout Spark
    * cannot read coherently. */
  private def requireFlatLayout(schema: String, table: String, op: String): Unit =
    if (partitionColsOf(schema, table).nonEmpty)
      throw new IllegalStateException(
        s"$op($schema/$table): the table is hive-partitioned; a flat " +
          "rewrite would silently demote its partition columns (losing " +
          "directory pruning) and leave any table-level meta sidecar " +
          "stale. Use mergePartitioned for upserts, or rebuild through " +
          "writePartitioned with the original partition columns")

  /** Swap a fully-written tmp layout into the table path, preserving the
    * previous table as a reader-invisible `_old_` sidecar until the new
    * one is in place — the whole-table analog of [[mergePartitioned]]'s
    * per-partition swap. NO crash point loses data: at every instant the
    * table path or the sidecar holds a complete table (a crash inside
    * the two-rename window leaves the path briefly absent for readers;
    * the next write on the table — or an explicit [[recoverWrite]] —
    * restores it). A failed final rename rolls the old table back. */
  private def promoteTable(
      f: FileSystem, tmp: Path, schema: String, table: String): Unit = {
    val dest = tablePath(schema, table)
    val side = oldSidecarPath(schema, table)
    if (f.exists(side)) f.delete(side, true) // stale: recoverWrite ran at entry
    if (f.exists(dest) && !f.rename(dest, side))
      throw new java.io.IOException(s"Could not stage $dest aside to $side")
    if (!f.rename(tmp, dest)) {
      if (f.exists(side)) f.rename(side, dest) // roll the old table back
      throw new java.io.IOException(s"Could not promote $tmp to $dest")
    }
    if (f.exists(side)) f.delete(side, true)
  }

  /** Heal a write whose [[promoteTable]] swap crashed between its two
    * renames: a surviving `_old_` sidecar means either the new table
    * landed (sidecar is leftover — dropped) or it did not (the sidecar IS
    * the previous table — renamed back into place). Runs automatically at
    * the start of every write path; public so an operator can heal a
    * table without writing to it. Returns true when something was
    * repaired. Do not run concurrently with a writer on the same table —
    * writers already serialize on the shared tmp path. */
  def recoverWrite(schema: String, table: String): Boolean = {
    val side = oldSidecarPath(schema, table)
    val dest = tablePath(schema, table)
    val f = fs(side)
    if (!f.exists(side)) return false
    if (f.exists(dest)) f.delete(side, true)
    else if (!f.rename(side, dest))
      throw new java.io.IOException(s"Could not restore $side to $dest")
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
    * INSIDE the table dir, so it survives [[mergePartitioned]] (which
    * swaps partition subdirs, not the table dir) but is correctly dropped
    * by any whole-table rewrite ([[write]]/[[writePartitioned]] replace
    * the dir) — stale geometry cannot outlive the layout it describes;
    * rebuilders re-stamp it. Writers that create the layout should pass
    * `metaProps` to [[write]]/[[writePartitioned]] instead, which stamps
    * the sidecar INSIDE the tmp layout so it promotes atomically with the
    * files; this standalone path (for annotating an existing table)
    * stages through a hidden tmp file + rename, so a crash can at worst
    * lose the update, never leave a torn sidecar. */
  def writeTableMeta(
      schema: String, table: String, props: Map[String, String]): Path = {
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
    if (!f.exists(p)) return Map.empty
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
      entries: Seq[(String, Boolean)]): Unit = {
    val manifest = mergeManifestPath(schema, table)
    val json = entries.map { case (rel, hasNew) =>
      // rel is hive-escaped (quotes/backslashes already %-encoded), so the
      // string embeds into JSON verbatim
      s"""{"dir":"$rel","hasNew":$hasNew}"""
    }.mkString(
      s"""{"table":"$table","tmp":"${mergeTmpPath(schema, table)}","partitions":[""",
      ",", "]}")
    val out = fs(manifest).create(manifest, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMergeManifest(manifest: Path): Seq[(String, Boolean)] = {
    val in = fs(manifest).open(manifest)
    val json =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val parts = root.get("partitions")
    (0 until parts.size()).map { i =>
      val e = parts.get(i)
      e.get("dir").asText() -> e.get("hasNew").asBoolean()
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
    * tmp+promote path — an admin-rate operation. */
  def setComment(schema: String, table: String, comment: String): Path = {
    requireFlatLayout(schema, table, "setComment")
    write(this.table(schema, table), schema, table, modified = Some(comment))
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
    * Rewrites through the same tmp+promote path (readers never see a
    * half-compacted table) and preserves the embedded `last_modified`.
    *
    * Hive-partitioned tables (r12) compact WITHOUT flattening: rows
    * re-lay per partition value (repartition on the partition columns —
    * exactly where incremental [[mergePartitioned]] runs accumulate
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
    val src = this.table(schema, table)
    val pcols = partitionColsOf(schema, table)
    val meta = readTableMeta(schema, table)
    if (pcols.nonEmpty) {
      val cols = pcols.map(col)
      val laid = targetPartitions
        .map(n => src.repartition(n, cols: _*))
        .getOrElse(src.repartition(cols: _*))
      // cluster = false: `laid` already carries compact's own layout
      // (targetPartitions override) — writePartitioned's default
      // clustering would collapse over it and ignore the file-count goal
      writePartitioned(laid, schema, table, pcols,
        modified = lastModified(schema, table),
        maxRecordsPerFile = maxRecordsPerFile,
        parquetBlockBytes = parquetBlockBytes,
        metaProps = Some(meta),
        cluster = false)
    } else {
      val layoutCols = meta.get(LayoutColsProp)
        .map(_.split(",").toSeq).getOrElse(Nil)
      val n = targetPartitions
        .orElse(meta.get(LayoutFilesProp).flatMap(s =>
          scala.util.Try(s.toInt).toOption))
      val (laid, newMeta) = meta.get(LayoutKindProp) match {
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
      write(laid, schema, table,
        modified = lastModified(schema, table),
        maxRecordsPerFile = maxRecordsPerFile,
        parquetBlockBytes = parquetBlockBytes,
        metaProps = Some(newMeta))
    }
  }

  /** Remove an active or archived table (reference pq_remove). */
  def remove(
      schema: String,
      table: String,
      archived: Boolean = false,
      archiveDir: String = "archive"
  ): Boolean = {
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
    val src = Modified.info("src", sourceComment)
    val dst = Modified.info("pq", lastModified(schema, table))
    val proceed = force || (src.date.isDefined && Modified.updateAvailable(src, dst))
    if (!proceed) None
    else Some(write(df, schema, table, modified = sourceComment,
      archiveExisting = archiveExisting))
  }
}
