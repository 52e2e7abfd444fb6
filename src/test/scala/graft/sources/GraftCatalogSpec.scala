package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSv2 catalog over the repo: identifier resolution, listing, and —
  * the point of delegating to Spark's own v2 parquet table — that
  * filter pushdown, column pruning, and hive-partition pruning all
  * survive the catalog path (the plan audit the r17 verdict asked
  * for). Mutations must fail loudly toward PqRepo. */
class GraftCatalogSpec extends SparkSpec {

  private lazy val repoDir = {
    val p = Files.createTempDirectory("graft_catalog").toString
    val repo = PqRepo(spark, p)
    repo.write(spark.read.parquet(s"$sfDir/nation.parquet"), "tpch", "nation")
    repo.write(spark.read.parquet(s"$sfDir/orders.parquet"), "tpch", "orders")
    repo.write(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")),
      "corpus", "docs", partitionCols = Seq("lang"))
    p
  }

  private lazy val cat: String = {
    val name = "graft_spec_cat"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.dataDir", repoDir)
    name
  }

  test("SQL addresses repo tables with no temp views; contents match") {
    val viaCatalog = spark.sql(
      s"SELECT n_nationkey, n_name FROM $cat.tpch.nation ORDER BY n_nationkey")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1))).toSeq
    val direct = PqRepo(spark, repoDir).table("tpch", "nation")
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1))).toSeq
    assert(viaCatalog == direct && viaCatalog.nonEmpty)
  }

  test("listing: namespaces, tables, metadata; sidecars hidden") {
    // drop a ledger-style sidecar next to the tables — listings must
    // not surface it
    val side = new java.io.File(s"$repoDir/tpch/_ledger_orders")
    side.mkdirs()
    val sql = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    assert(sql.listNamespaces().map(_.toSeq).toSet ==
      Set(Seq("tpch"), Seq("corpus")))
    assert(sql.listTables(Array("tpch")).map(_.name()).toSeq ==
      Seq("nation", "orders"))
    assert(spark.sql(s"SHOW TABLES IN $cat.tpch").collect()
      .map(_.getString(1)).toSet == Set("nation", "orders"))
    intercept[Exception] { sql.listTables(Array("missing_schema")) }
  }

  test("pushdown and pruning survive the catalog path") {
    val df = spark.sql(s"SELECT o_orderkey FROM $cat.tpch.orders " +
      "WHERE o_totalprice > 100000")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThan(o_totalprice,100000"),
      s"filter not pushed through the catalog:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderkey:"),
      s"scan not pruned to the projection:\n$p")
    assert(!p.contains("o_orderdate"), s"unneeded column read:\n$p")
  }

  test("hive-partition pruning over a hive-layout write") {
    val df = spark.sql(
      s"SELECT doc_id FROM $cat.corpus.docs WHERE lang = 'en'")
    val p = df.queryExecution.executedPlan.toString
    // the partition filter must land in the scan's partition filters,
    // not survive as a post-scan Filter over all partitions
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"partition filter not applied at the scan:\n$p")
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(df.count() == expected)
  }

  test("mutations are refused toward PqRepo; missing tables fail loudly") {
    intercept[Exception] {
      spark.sql(s"DROP TABLE $cat.tpch.nation")
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tpch.no_such_table").collect()
    }
    // the refused drop must not have touched the data
    assert(spark.sql(s"SELECT count(*) FROM $cat.tpch.nation")
      .head().getLong(0) > 0)
  }

  test("INSERT through the catalog is refused — loaded tables are " +
    "read-only (ParquetTable's write half would bypass the repo protocol)") {
    val before = spark.sql(s"SELECT count(*) FROM $cat.tpch.nation")
      .head().getLong(0)
    intercept[Exception] {
      spark.sql(
        s"INSERT INTO $cat.tpch.nation VALUES (99, 'NOWHERE', 0)")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.tpch.nation")
      .head().getLong(0) == before, "refused INSERT changed the table")
    // no stray files appended into the managed layout either
    val files = new java.io.File(s"$repoDir/tpch/nation.parquet")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty)
  }

  private lazy val versionedRepoDir = {
    val p = Files.createTempDirectory("graft_catalog_asof").toString
    val repo = PqRepo(spark, p)
    import spark.implicits._
    repo.write(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), "s", "t",
      modified = Some("(Updated 2024-05-01)")) // stamp 20240501T060000Z
    repo.write(Seq((1L, 11.0), (2L, 21.0), (3L, 31.0)).toDF("k", "v"),
      "s", "t", modified = Some("(Updated 2024-06-01)"),
      archiveExisting = true)
    p
  }

  private lazy val vcat: String = {
    val name = "graft_spec_vcat"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.dataDir", versionedRepoDir)
    name
  }

  test("time travel: VERSION AS OF resolves the exact archive stamp, " +
    "TIMESTAMP AS OF the newest version at-or-before; active unchanged") {
    def vals(from: String): Seq[(Long, Double)] =
      spark.sql(s"SELECT k, v FROM $from ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val v1 = Seq((1L, 10.0), (2L, 20.0))
    val v2 = Seq((1L, 11.0), (2L, 21.0), (3L, 31.0))
    assert(vals(s"$vcat.s.t VERSION AS OF '20240501T060000Z'") == v1)
    // between the two versions → v1; after both → v2 (the active table)
    assert(vals(s"$vcat.s.t TIMESTAMP AS OF '2024-05-15 00:00:00'") == v1)
    assert(vals(s"$vcat.s.t TIMESTAMP AS OF '2030-01-01 00:00:00'") == v2)
    assert(vals(s"$vcat.s.t") == v2)
    // before any version existed / unknown stamp: loud, not empty
    intercept[Exception] {
      vals(s"$vcat.s.t TIMESTAMP AS OF '2020-01-01 00:00:00'")
    }
    intercept[Exception] {
      vals(s"$vcat.s.t VERSION AS OF '19990101T000000Z'")
    }
  }

  test("versioned reads are read-only: INSERT against a VERSION AS OF " +
    "load is refused and the archived snapshot is untouched") {
    val archived = new java.io.File(s"$versionedRepoDir/s/archive")
      .listFiles().head
    val before = archived.listFiles().map(_.getName).toSet
    intercept[Exception] {
      // DSv2 INSERT resolves the table through loadTable — read-only
      // wrapping must refuse it regardless of which version resolves
      spark.sql(s"INSERT INTO $vcat.s.t VALUES (9, 99.0)")
    }
    assert(archived.listFiles().map(_.getName).toSet == before,
      "archived snapshot files changed under a refused INSERT")
    assert(spark.sql(
      s"SELECT count(*) FROM $vcat.s.t VERSION AS OF '20240501T060000Z'")
      .head().getLong(0) == 2)
  }
}
