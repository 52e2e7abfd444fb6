package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 `TableCatalog` over a [[PqRepo]] layout — the
  * reference's `process_sql` ergonomics natively: register once
  * (`spark.sql.catalog.graft = graft.sources.GraftCatalog`,
  * `spark.sql.catalog.graft.dataDir = /lake`) and every repo table is
  * SQL-addressable as `graft.<schema>.<table>` with NO per-query temp
  * views — `sql_passthrough` needed `createOrReplaceTempView` per table;
  * this is the catalog-native twin (reference `postgres/update.py:27
  * process_sql`, `wrds/pg_to_pq.py wrds_sql_to_pq`).
  *
  * Read path: `loadTable` hands Spark its own v2 [[ParquetTable]] over
  * the repo path, so the engine's entire scan machinery applies
  * unchanged — filter pushdown (`PushedFilters`), column pruning
  * (`ReadSchema`), partition discovery AND partition pruning over
  * [[PqRepo.write]]'s hive layouts, vectorized reading,
  * whole-stage codegen. Nothing is reimplemented; the catalog only
  * resolves `schema.table → <dataDir>/<schema>/<table>.parquet` — the
  * same resolution [[PqRepo.table]] performs — and hides the repo's `_`
  * sidecars (ledgers, merge manifests) by construction since they never
  * match the `*.parquet` suffix.
  *
  * Writes stay with [[PqRepo]] (write/merge/archive own the temp-write +
  * atomic-promote + manifest crash protocol; a DSv2 `CREATE TABLE` would
  * bypass all of it), so the mutating TableCatalog methods throw with a
  * pointer — the catalog is the QUERY surface, the repo is the LANDING
  * surface. `dropTable`/`renameTable`/`createTable` intentionally
  * unsupported rather than half-supported. Since r19 the loaded tables
  * themselves are READ-ONLY wrappers: Spark's ParquetTable implements
  * SupportsWrite, so an `INSERT INTO graft.s.t` would have appended raw
  * files into the managed layout past every crash manifest — the wrapper
  * delegates the scan path untouched (pushdown/pruning/vectorization are
  * all inside `newScanBuilder`) and simply doesn't offer a write builder.
  *
  * TIME TRAVEL (r19, verdict #4): `VERSION AS OF '<stamp>'` resolves an
  * exact [[PqRepo.archive]] stamp (`yyyyMMdd'T'HHmmss'Z'` — the repo's
  * on-disk version ids, also what [[PqRepo.versions]] lists), and
  * `TIMESTAMP AS OF <t>` resolves the newest version at or before `t`
  * ([[PqRepo.tableAsOf]] semantics). Both serve the ARCHIVED parquet
  * in place — read-only, nothing moves on disk, today's loads keep
  * landing — so the reference's archive/restore timeline
  * (files/parquet.py:294) is SQL-addressable without a restore. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var dataDir: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    dataDir = options.get("dataDir")
    require(dataDir != null,
      s"catalog $name needs spark.sql.catalog.$name.dataDir")
  }

  override def name(): String = catalogName

  private def namespacePath(ns: Array[String]): Path = {
    if (ns.length != 1)
      throw new NoSuchNamespaceException(ns)
    new Path(dataDir, ns.head)
  }

  private def tablePath(ident: Identifier): Path =
    new Path(namespacePath(ident.namespace()), s"${ident.name()}.parquet")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespacePath(namespace)
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .map(n => Identifier.of(namespace, n.stripSuffix(".parquet")))
      .sortBy(_.name())
      .toArray
  }

  /** Spark's own v2 parquet table over `path` — the whole scan stack
    * (pushdown, pruning, partition discovery, vectorization) comes with
    * it — wrapped read-only: the catalog never offers a write builder. */
  private def parquetTable(ident: Identifier, path: Path,
      versionTag: String = ""): Table =
    new ReadOnlyTable(ParquetTable(
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}$versionTag",
      spark,
      CaseInsensitiveStringMap.empty(),
      Seq(path.toString),
      None,
      classOf[ParquetFileFormat]))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (!fs(p).exists(p)) throw new NoSuchTableException(ident)
    parquetTable(ident, p)
  }

  private def repo: PqRepo = PqRepo(spark, dataDir)

  /** `VERSION AS OF '<stamp>'`: exact archive-stamp match among the
    * table's on-disk versions (archived snapshots + the active table —
    * [[PqRepo.versions]]). Unstamped versions (`unknown_modified`
    * archives, an active table without last_modified) are unreachable
    * by construction: time travel needs a timeline. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val vs = repo.versions(ident.namespace() match {
      case Array(ns) => ns
      case ns        => throw new NoSuchNamespaceException(ns)
    }, ident.name())
    vs.collectFirst { case (Some(stamp), _, path) if stamp == version => path }
      .map(parquetTable(ident, _, s"@$version"))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  private val stampFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)

  /** `TIMESTAMP AS OF <t>` (Spark hands MICROseconds since epoch): the
    * newest version whose stamp is at or before `t` — [[PqRepo.tableAsOf]]
    * resolution, as a catalog read. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val asOf = stampFmt.format(java.time.Instant.EPOCH.plus(
      timestamp, java.time.temporal.ChronoUnit.MICROS))
    val vs = repo.versions(ident.namespace() match {
      case Array(ns) => ns
      case ns        => throw new NoSuchNamespaceException(ns)
    }, ident.name())
    vs.collect { case (Some(stamp), _, path) if stamp <= asOf => (stamp, path) }
      .sortBy(_._1).lastOption
      .map { case (stamp, path) => parquetTable(ident, path, s"@$stamp") }
      .getOrElse(throw new NoSuchTableException(ident))
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op: the graft catalog is the QUERY surface; land data through " +
        "PqRepo.write/merge (temp-write + atomic promote " +
        "+ crash manifests), archive/remove through PqRepo admin")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly(s"createTable($ident)")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly(s"alterTable($ident)")
  override def dropTable(ident: Identifier): Boolean =
    readOnly(s"dropTable($ident)")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly(s"renameTable($oldIdent)")

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(dataDir)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .sorted
      .map(Array(_))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && {
      val p = new Path(dataDir, namespace.head)
      fs(p).exists(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> new Path(dataDir, namespace.head).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    readOnly(s"createNamespace(${namespace.mkString(".")})")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    readOnly(s"alterNamespace(${namespace.mkString(".")})")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly(s"dropNamespace(${namespace.mkString(".")})")
}

/** A [[Table]] exposing ONLY the read half of a delegate: `ParquetTable`
  * implements SupportsWrite, so handing it out raw would let `INSERT
  * INTO` append files into the managed repo layout outside PqRepo's
  * temp-write/promote/manifest protocol (and outside archival — exactly
  * what makes a versioned read trustworthy). The entire read stack lives
  * behind `newScanBuilder`, so delegation preserves pushdown, pruning,
  * partition discovery, and vectorized reads unchanged; only the write
  * capabilities disappear — the capability set is the DELEGATE's minus
  * the write-side entries (not a hardcoded BATCH_READ singleton, which
  * silently dropped read-side capabilities the delegate advertised), and
  * `_metadata` columns keep working because [[SupportsMetadataColumns]]
  * is forwarded too (ParquetTable implements it; a raw hand-out exposed
  * it, so the wrapper must as well). */
private final class ReadOnlyTable(delegate: Table with SupportsRead)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = delegate.name()
  @annotation.nowarn("msg=deprecated")
  override def schema(): StructType = delegate.schema()
  override def partitioning(): Array[Transform] = delegate.partitioning()
  override def properties(): util.Map[String, String] = delegate.properties()
  private val writeCaps = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
    TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
    TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.noneOf(classOf[TableCapability])
    caps.addAll(delegate.capabilities())
    caps.removeAll(writeCaps)
    caps
  }
  override def metadataColumns(): Array[MetadataColumn] = delegate match {
    case m: SupportsMetadataColumns => m.metadataColumns()
    case _                          => Array.empty
  }
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    delegate.newScanBuilder(options)
}
