package org.apache.spark.sql.graft

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the `private[spark]` pieces of Spark's parquet read path, so a
  * parquet directory resolves to a DataFrame on the driver with no Spark
  * job. `spark.read.parquet` runs a one-task schema-inference job per read
  * and, above 32 partition directories, a listing job with one task per
  * directory; here both happen on the driver:
  *
  *  - the directory tree is listed with `listStatus` and Spark's own
  *    hidden-path rule. Never `listFiles`/`listLocatedStatus`: on the local
  *    FS their `LocatedFileStatus` forks a `stat` per file. The statuses
  *    carry no block locations, so scans get no locality hints — the same as
  *    `spark.sql.sources.ignoreDataLocality`;
  *  - the listing seeds the `InMemoryFileIndex` through a [[FileStatusCache]]
  *    whose `invalidateAll` drops it, so `refresh()` lists the normal way;
  *  - the data schema comes from the one footer Spark's
  *    `ParquetUtils.inferSchema` reads without `mergeSchema`, converted by
  *    `readSchemaFromFooter`; partition types come from the index's own
  *    inference, and the relation is built as `DataSource` builds it.
  *
  * Meant for directories whose files share one schema: the session's
  * `spark.sql.parquet.mergeSchema` is not consulted. */
object ParquetBridge {

  /** `root` as a DataFrame: the relation `spark.read.parquet(root)` builds. */
  def read(spark: SparkSession, root: Path): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val (index, conf) = indexOf(session, root)
    val relation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema(session, index, conf).asNullable, None, new ParquetFileFormat,
      CaseInsensitiveMap(options(root)))(session)
    session.baseRelationToDataFrame(relation)
  }

  /** The data schema of `root` (no partition columns), read from one footer. */
  def dataSchema(spark: SparkSession, root: Path): StructType = {
    val session = spark.asInstanceOf[ClassicSession]
    val (index, conf) = indexOf(session, root)
    dataSchema(session, index, conf)
  }

  /** The data files of each partition of a [[read]] frame, counted from
    * the listing the read made (no listing, no job): each partition's
    * values in `cols` order, with its file count. */
  def filesPerPartition(df: DataFrame, cols: Seq[String]): Seq[(Row, Int)] = {
    val index = locationOf(df)
    val names = index.partitionSchema.fieldNames.map(_.toLowerCase)
    val at = cols.map(c => names.indexOf(c.toLowerCase))
    val toScala = CatalystTypeConverters.createToScalaConverter(index.partitionSchema)
    index.listFiles(Nil, Nil).map { p =>
      val values = toScala(p.values).asInstanceOf[Row]
      Row.fromSeq(at.map(values.get)) -> p.files.size
    }
  }

  /** The partition column names of a [[read]] frame, in directory order,
    * from the listing the read made: empty for a flat table. */
  def partitionColumns(df: DataFrame): Seq[String] =
    locationOf(df).partitionSchema.fieldNames.toSeq

  private def locationOf(df: DataFrame): FileIndex =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }.getOrElse(throw new IllegalArgumentException("not a file-source read"))

  /** The reader options `spark.read.parquet(root)` resolves with. */
  private def options(root: Path): Map[String, String] = Map("path" -> root.toString)

  private def indexOf(
      session: ClassicSession, root: Path): (InMemoryFileIndex, Configuration) = {
    val conf = session.sessionState.newHadoopConfWithOptions(options(root))
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
    val leaves = listLeaves(fs, qualified, session.sessionState.conf.ignoreMissingFiles)
    (new InMemoryFileIndex(session, Seq(qualified), options(root), None,
      new SeededCache(qualified, leaves)), conf)
  }

  /** The footer `ParquetUtils.inferSchema` reads without `mergeSchema`.
    * It prefers a summary file, but the index's `allFiles` holds data files
    * only (`_metadata` and `_common_metadata` are hidden names), so its pick
    * is the data file whose path sorts first. No data file at all is
    * Spark's "unable to infer" error. */
  private def dataSchema(
      session: ClassicSession, index: InMemoryFileIndex, conf: Configuration): StructType = {
    val file = index.allFiles().sortBy(_.getPath.toString).headOption
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer =
      try ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      catch { case e: RuntimeException =>
        throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e)
      }
    // the converter settings of ParquetFileFormat.mergeSchemasInParallel
    val sql = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  /** Leaf files under `root`, in the order Spark's listing returns them:
    * each directory's own files, then its subdirectories' subtrees. A
    * missing root is Spark's PATH_NOT_FOUND. A directory below the root
    * that vanishes between its parent's listing and its own (a concurrent
    * partition swap) fails the read, as in Spark's listing (SPARK-27676),
    * unless `spark.sql.files.ignoreMissingFiles` is set. */
  private def listLeaves(
      fs: FileSystem, root: Path, ignoreMissing: Boolean): Seq[FileStatus] = {
    def below(dir: Path): Seq[FileStatus] = {
      val statuses =
        try fs.listStatus(dir)
        catch {
          case _: FileNotFoundException if dir == root =>
            throw QueryCompilationErrors.dataPathNotExistError(root.toString)
          case _: FileNotFoundException if ignoreMissing => Array.empty[FileStatus]
        }
      val (dirs, files) = visible(statuses).partition(_.isDirectory)
      files.toSeq ++ dirs.toSeq.flatMap(d => below(d.getPath))
    }
    below(root)
  }

  private def visible(s: Array[FileStatus]): Array[FileStatus] =
    s.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))

  /** Answers the index's first listing of `root` with `leaves`; after
    * `invalidateAll` (an index `refresh()`) it answers nothing, so the
    * index lists through Spark again. */
  private final class SeededCache(root: Path, leaves: Seq[FileStatus])
      extends FileStatusCache {
    @volatile private var seeded = true
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (seeded && path == root) Some(leaves.toArray) else None
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = seeded = false
  }
}
