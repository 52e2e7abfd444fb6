package graft.sources

import java.io.{File, FileNotFoundException}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** The driver-side table resolver behind every PqRepo read: a repo read
  * must be the relation `spark.read.parquet` builds — same schema (names,
  * types, nullability, field metadata), rows, input files and embedded
  * `last_modified` — while running no Spark job of its own. */
class PqRepoReadSpec extends SparkSpec {

  private def freshRepo(): PqRepo =
    PqRepo(spark, Files.createTempDirectory("graft_read").toString)

  private def stampOf(df: DataFrame, repo: PqRepo): Option[String] =
    df.schema.fields.collectFirst {
      case f if f.metadata.contains(repo.MetadataKey) =>
        f.metadata.getString(repo.MetadataKey)
    }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `got` (a repo read) against Spark's own read of `path`. */
  private def assertParity(got: DataFrame, path: Path, repo: PqRepo): Unit = {
    val want = spark.read.parquet(path.toString)
    // StructField equality covers name, type, nullability and metadata
    assert(got.schema == want.schema,
      s"\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    assert(rowsOf(got) == rowsOf(want))
    assert(got.inputFiles.sorted.toSeq == want.inputFiles.sorted.toSeq)
    assert(got.inputFiles.nonEmpty)
    assert(stampOf(got, repo) == stampOf(want, repo))
  }

  private def assertTableParity(repo: PqRepo, schema: String, table: String): Unit = {
    val path = repo.tablePath(schema, table)
    assertParity(repo.table(schema, table), path, repo)
    assert(repo.lastModified(schema, table) ==
      stampOf(spark.read.parquet(path.toString), repo))
  }

  private lazy val rows = spark.range(0, 240).select(
    col("id"),
    (col("id") % 3).cast("int").as("a"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 4).as("b"),
    concat(lit("v"), col("id").cast("string")).as("s"),
    array(col("id").cast("double"), lit(0.5)).as("vec"))

  test("flat table: schema, rows, input files and lastModified match Spark's read") {
    val repo = freshRepo()
    repo.write(rows, "s", "flat", modified = Some("flat (Updated 2024-05-01)"),
      maxRecordsPerFile = Some(50L))
    assertTableParity(repo, "s", "flat")
    assert(repo.lastModified("s", "flat").contains("flat (Updated 2024-05-01)"))
  }

  test("one- and two-level partitioned tables with a null partition value") {
    val repo = freshRepo()
    repo.write(rows, "s", "one", partitionCols = Seq("b"), modified = Some("one"))
    repo.write(rows, "s", "two", partitionCols = Seq("a", "b"), modified = Some("two"))
    assertTableParity(repo, "s", "one")
    assertTableParity(repo, "s", "two")
    assert(repo.table("s", "one").filter(col("b").isNull).count() == 48)
    assert(repo.table("s", "two").schema.fieldNames.takeRight(2).toSeq == Seq("a", "b"))
  }

  test("a table with a _graft_meta.json sidecar") {
    val repo = freshRepo()
    repo.write(rows, "s", "meta", partitionCols = Seq("a"),
      modified = Some("meta"), metaProps = Some(Map("k" -> "v")))
    assert(repo.readTableMeta("s", "meta") == Map("k" -> "v"))
    assertTableParity(repo, "s", "meta")
    assert(!repo.table("s", "meta").inputFiles.exists(_.contains("_graft_meta")))
  }

  test("partition merges leave files with different stamps: the footer " +
    "Spark infers from decides") {
    val repo = freshRepo()
    repo.write(rows, "s", "m", partitionCols = Seq("a"), modified = Some("first"))
    // rewrites only a=1 and a=2, under new stamps
    repo.merge(rows.filter(col("a") === 1).withColumn("s", lit("x")),
      "s", "m", keys = Seq("id", "a"), partitionCols = Seq("a"),
      modified = Some("second"))
    repo.merge(rows.filter(col("a") === 2).withColumn("s", lit("y")),
      "s", "m", keys = Seq("id", "a"), partitionCols = Seq("a"),
      modified = Some("third"))
    val stamps = Seq(0, 1, 2).map(a => stampOf(
      spark.read.parquet(s"${repo.tablePath("s", "m")}/a=$a"), repo))
    assert(stamps == Seq(Some("first"), Some("second"), Some("third")))
    assertTableParity(repo, "s", "m")
    assert(repo.lastModified("s", "m").contains("first"))
  }

  test("an archived version read through tableAsOf and repoAsOf") {
    val repo = freshRepo()
    repo.write(rows, "s", "t", modified = Some("x (Updated 2024-05-01)"))
    repo.write(rows.limit(7), "s", "t", modified = Some("x (Updated 2024-06-01)"),
      archiveExisting = true)
    val archived = repo.versions("s", "t").head._3
    assert(archived.getName == "t_20240501T060000Z.parquet")
    val asOf = repo.tableAsOf("s", "t", "20240515T000000Z").get
    assertParity(asOf, archived, repo)
    assert(stampOf(asOf, repo).contains("x (Updated 2024-05-01)"))
    assertParity(repo.repoAsOf("s", Seq("t"), "20240515T000000Z")("t"), archived, repo)
    assertTableParity(repo, "s", "t")
  }

  test("an empty table and a missing table fail as Spark's read does") {
    val repo = freshRepo()
    repo.write(rows, "s", "e", partitionCols = Seq("a"))
    val path = repo.tablePath("s", "e")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).filter(_.isDirectory).foreach(s => fs.delete(s.getPath, true))
    val want = intercept[AnalysisException](spark.read.parquet(path.toString))
    val got = intercept[AnalysisException](repo.table("s", "e"))
    assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    intercept[AnalysisException](repo.lastModified("s", "e"))

    val missing = repo.tablePath("s", "absent")
    val wantMissing = intercept[AnalysisException](spark.read.parquet(missing.toString))
    val gotMissing = intercept[AnalysisException](repo.table("s", "absent"))
    assert(gotMissing.getCondition == wantMissing.getCondition)
    assert(gotMissing.getMessage == wantMissing.getMessage)
    assert(repo.lastModified("s", "absent").isEmpty)
  }

  test("refreshing a resolved read lists the table again") {
    val repo = freshRepo()
    repo.write(rows, "s", "r", partitionCols = Seq("a"))
    val df = repo.table("s", "r")
    val before = df.inputFiles.length
    rows.filter(col("a") === 0).drop("a").write
      .parquet(s"${repo.tablePath("s", "r")}/a=9")
    val index = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
    }.get
    assert(index.inputFiles.length == before)
    index.refresh()
    assert(index.inputFiles.length > before)
    assert(index.inputFiles.toSet ==
      spark.read.parquet(repo.tablePath("s", "r").toString).inputFiles.toSet)
  }

  test("a partition directory that vanishes between the root listing and its " +
    "own fails the read; ignoreMissingFiles reads without it") {
    val local = freshRepo()
    local.write(rows, "s", "v", partitionCols = Seq("a"), modified = Some("v"))
    CrashFs.register(spark)
    val repo = PqRepo(spark, "crash://" + local.dataDir)
    val dir = new File(local.tablePath("s", "v").toUri.getPath)
    val parked = new File(dir, PqRepo.parkedName("a=2"))
    assert(repo.table("s", "v").count() == rows.count())

    // a partition swap parks a=2 right after the reader listed the root
    CrashFs.vanish.set(Some(new File(dir, "a=2")))
    intercept[FileNotFoundException](repo.table("s", "v"))
    assert(parked.exists() && CrashFs.vanish.get.isEmpty)

    assert(parked.renameTo(new File(dir, "a=2")))
    CrashFs.vanish.set(Some(new File(dir, "a=2")))
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val df = repo.table("s", "v")
      assert(CrashFs.vanish.get.isEmpty)
      assert(df.select("a").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    } finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  test("a partition parked mid-swap is hidden from reads; recovery clears it " +
    "and a partition parked under the older visible name") {
    val repo = freshRepo()
    repo.write(rows, "s", "w", partitionCols = Seq("a"))
    val dir = new File(repo.tablePath("s", "w").toUri.getPath)
    // a merge has committed new a=1 and a=2 to its tmp layout and manifest
    val merged = rows.filter(col("a") =!= 0).withColumn("s", concat(col("s"), lit("'")))
    val tmp = new File(dir.getParentFile, "_tmp_w.parquet")
    merged.write.partitionBy("a").parquet(tmp.getPath)
    Files.writeString(new File(dir, "_merge_manifest.json").toPath,
      s"""{"table":"w","tmp":"$tmp","partitions":[""" +
        """{"dir":"a=1","hasNew":true},{"dir":"a=2","hasNew":true}]}""")
    // ... and crashed between the two renames of a=2
    val parked = new File(dir, PqRepo.parkedName("a=2"))
    assert(new File(dir, "a=2").renameTo(parked))
    assert(repo.table("s", "w").select("a").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    // a swap that crashed before the hidden name left `_old_a=1`
    val legacy = new File(dir, "_old_a=1")
    assert(new File(dir, "a=1").renameTo(legacy))

    assert(repo.recover("s", "w"))
    assert(!parked.exists() && !legacy.exists() && !tmp.exists())
    val cols = rows.columns.map(col)
    assert(rowsOf(repo.table("s", "w").select(cols: _*)) ==
      rowsOf(rows.filter(col("a") === 0).unionByName(merged).select(cols: _*)))
  }

  test("resolving a 64-partition table and reading its lastModified run no job; " +
    "readIvfIndex runs one") {
    val repo = freshRepo()
    val nlist = 64
    val assigned = spark.range(0, nlist * 8).select(
      col("id"),
      array(col("id").cast("double"), lit(1.0)).as("v"),
      (col("id") % nlist).cast("int").as("cluster"))
    val cents = (0 until nlist).map(c => c -> Seq(c.toDouble, 1.0))
    Similarity.writeIvfIndex(repo, Similarity.IvfIndex(cents, assigned), "ann", "j")
    repo.write(assigned, "s", "p64", partitionCols = Seq("cluster"), modified = Some("m"))
    assert(org.apache.spark.sql.graft.ParquetBridge.partitionColumns(repo.table("s", "p64")) == Seq("cluster"))
    assert(new java.io.File(repo.tablePath("s", "p64").toUri.getPath)
      .listFiles().count(_.getName.startsWith("cluster=")) == nlist)

    // Spark's own read of the same table runs a listing and a schema job
    assert(jobsOf(spark.read.parquet(repo.tablePath("s", "p64").toString)) >= 2)
    assert(jobsOf(repo.table("s", "p64")) == 0)
    assert(jobsOf(repo.lastModified("s", "p64")) == 0)
    var index: Similarity.IvfIndex = null
    assert(jobsOf { index = Similarity.readIvfIndex(repo, "ann", "j") } == 1)
    assert(index.centroids == cents)
    assert(index.assigned.count() == nlist * 8)
  }
}
