package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class PqRepoSpec extends SparkSpec {

  def freshRepo(): PqRepo =
    PqRepo(spark, Files.createTempDirectory("graft_repo").toString)

  lazy val nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("write embeds last_modified and read recovers it") {
    val repo = freshRepo()
    repo.write(nation, "tpch", "nation", modified = Some("x (Updated 2024-05-01)"))
    assert(repo.lastModified("tpch", "nation").contains("x (Updated 2024-05-01)"))
    assert(repo.table("tpch", "nation").count() == nation.count())
    assert(repo.list("tpch") == Seq("nation"))
  }

  test("archive stamps with parsed modified time and restore round-trips") {
    val repo = freshRepo()
    repo.write(nation, "tpch", "nation", modified = Some("x (Updated 2024-05-01)"))
    val archived = repo.archive("tpch", "nation").get
    // 02:00 America/New_York on 2024-05-01 is 06:00 UTC
    assert(archived.getName == "nation_20240501T060000Z.parquet")
    assert(repo.list("tpch").isEmpty)

    val restored = repo.restore("nation_20240501T060000Z", "tpch")
    assert(restored.isDefined && repo.list("tpch") == Seq("nation"))
    assert(repo.lastModified("tpch", "nation").contains("x (Updated 2024-05-01)"))
  }

  test("write with archiveExisting preserves the replaced table") {
    val repo = freshRepo()
    repo.write(nation, "tpch", "nation", modified = Some("x (Updated 2024-05-01)"))
    repo.write(nation.limit(3), "tpch", "nation",
      modified = Some("x (Updated 2024-06-01)"), archiveExisting = true)
    assert(repo.table("tpch", "nation").count() == 3)
    assert(repo.remove("tpch", "nation_20240501T060000Z", archived = true))
  }

  test("updateWrite gates on modified comparison") {
    val repo = freshRepo()
    // first write: destination unknown → proceeds
    assert(repo.updateWrite(nation, "tpch", "nation",
      Some("x (Updated 2024-05-01)")).isDefined)
    // same date → up to date, skip
    assert(repo.updateWrite(nation, "tpch", "nation",
      Some("x (Updated 2024-05-01)")).isEmpty)
    // newer source → proceeds
    assert(repo.updateWrite(nation, "tpch", "nation",
      Some("x (Updated 2024-06-01)")).isDefined)
    // unparseable source → skip unless forced
    assert(repo.updateWrite(nation, "tpch", "nation", Some("garbage")).isEmpty)
    assert(repo.updateWrite(nation, "tpch", "nation", Some("garbage"),
      force = true).isDefined)
  }

  test("remove deletes active tables") {
    val repo = freshRepo()
    repo.write(nation, "tpch", "nation")
    assert(repo.remove("tpch", "nation"))
    assert(repo.list("tpch").isEmpty)
    assert(!repo.remove("tpch", "nation"))
  }
}
class PqRepoCommentSpec extends graft.SparkSpec {
  test("setComment replaces embedded last_modified") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_repo_c").toString)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    repo.write(nation, "tpch", "nation", modified = Some("x (Updated 2024-05-01)"))
    repo.setComment("tpch", "nation", "x (Updated 2024-07-01)")
    assert(repo.lastModified("tpch", "nation").contains("x (Updated 2024-07-01)"))
    assert(repo.table("tpch", "nation").count() == nation.count())
  }
}

class GraftConfigSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("data dir resolution order: explicit > env > cwd") {
    assert(graft.GraftConfig.resolveDataDir(Some("/x")) == "/x")
    assert(graft.GraftConfig.resolveDataDir(None).nonEmpty)
  }
}

class PartitionedRepoSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("partitioned write lays out hive dirs and filters prune partitions") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_part").toString)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate").cast("date")))
    repo.write(orders, "tpch", "orders_part", partitionCols = Seq("o_year"))

    val back = repo.table("tpch", "orders_part")
    assert(back.count() == orders.count())

    val filtered = back.filter(col("o_year") === 1997)
    val plan = filtered.queryExecution.executedPlan.toString
    // the year filter must be a partition filter, not a data filter
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan)
    assert(!plan.contains("PushedFilters: [IsNotNull(o_year)"), plan)
    assert(filtered.count() ==
      orders.filter(col("o_year") === 1997).count())
    // partition directories exist on disk
    val dirs = new java.io.File(
      repo.tablePath("tpch", "orders_part").toString).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("o_year=")))
  }
}

class PartitionedLayoutGuardSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  private def partRepo(): (PqRepo, Long) = {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_repo_pl").toString)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", org.apache.spark.sql.functions.year(col("o_orderdate")))
    repo.write(orders, "tpch", "orders_part", partitionCols = Seq("o_year"),
      modified = Some("x (Updated 2024-05-01)"))
    (repo, orders.count())
  }

  test("flat-rewrite ops refuse a hive-partitioned table instead of flattening it") {
    val (repo, _) = partRepo()
    assert(org.apache.spark.sql.graft.ParquetBridge.partitionColumns(repo.table("tpch", "orders_part")) == Seq("o_year"))
    val e1 = intercept[IllegalStateException] {
      repo.merge(repo.table("tpch", "orders_part").limit(5),
        "tpch", "orders_part", keys = Seq("o_orderkey"))
    }
    assert(e1.getMessage.contains("merge"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      repo.setComment("tpch", "orders_part", "y (Updated 2024-06-01)")
    }
    assert(e2.getMessage.contains("hive-partitioned"), e2.getMessage)
    // flat tables keep working
    repo.write(spark.read.parquet(s"$sfDir/nation.parquet"), "tpch", "nation")
    repo.setComment("tpch", "nation", "z (Updated 2024-07-01)")
    assert(repo.lastModified("tpch", "nation").contains("z (Updated 2024-07-01)"))
  }

  test("compact preserves a partitioned layout, its sidecar, and lastModified") {
    val (repo, n) = partRepo()
    repo.writeTableMeta("tpch", "orders_part", Map("k" -> "v"))
    def files = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(
        repo.tablePath("tpch", "orders_part").toUri.getPath))
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    }
    val before = files.length
    repo.compact("tpch", "orders_part")
    val dirs = new java.io.File(
      repo.tablePath("tpch", "orders_part").toUri.getPath).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("o_year=")), dirs.mkString(","))
    assert(files.length <= before)
    assert(repo.table("tpch", "orders_part").count() == n)
    assert(repo.readTableMeta("tpch", "orders_part") == Map("k" -> "v"))
    assert(repo.lastModified("tpch", "orders_part")
      .contains("x (Updated 2024-05-01)"))
    // pruning still works after compaction
    val plan = repo.table("tpch", "orders_part")
      .filter(col("o_year") === 1997).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan)
  }
}

class WriteSizingSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("recover heals every crash point of the whole-table sidecar swap") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_repo_rw").toString)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    repo.write(nation, "tpch", "nation")
    val dest = new java.io.File(repo.tablePath("tpch", "nation").toUri.getPath)
    val side = new java.io.File(dest.getParent, "_old_nation.parquet")

    // crash AFTER dest→sidecar, BEFORE tmp→dest: the sidecar IS the table
    assert(dest.renameTo(side))
    assert(!repo.list("tpch").contains("nation")) // sidecar hidden from list
    assert(repo.recover("tpch", "nation"))
    assert(repo.table("tpch", "nation").count() == nation.count())
    assert(!side.exists())

    // crash AFTER tmp→dest, BEFORE sidecar delete: sidecar is leftover
    repo.write(nation.limit(3), "tpch", "stale")
    val staleDir = new java.io.File(repo.tablePath("tpch", "stale").toUri.getPath)
    org.apache.commons.io.FileUtils.copyDirectory(staleDir, side)
    assert(repo.recover("tpch", "nation"))
    assert(!side.exists())
    assert(repo.table("tpch", "nation").count() == nation.count())

    // clean table: no-op
    assert(!repo.recover("tpch", "nation"))
    // the next write over a sidecar-only state heals then replaces
    assert(dest.renameTo(side))
    repo.write(nation.limit(5), "tpch", "nation")
    assert(repo.table("tpch", "nation").count() == 5)
    assert(!side.exists())
  }

  test("maxRecordsPerFile bounds rows per output file") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_sizing").toString)
    val df = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
    repo.write(df, "s", "bounded", maxRecordsPerFile = Some(100L),
      parquetBlockBytes = Some(1L << 20))
    val dir = new java.io.File(repo.tablePath("s", "bounded").toString)
    val parts = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts >= 10, s"expected >= 10 bounded files, got $parts")
    assert(repo.table("s", "bounded").count() == 1000)
  }
}

class CompactionSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("compact rewrites many small files into a bounded layout, metadata kept") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_compact").toString)
    val df = spark.range(2000).select(col("id"), (col("id") % 7).as("g"))
      .repartition(16)
    repo.write(df, "s", "frag", modified = Some("x (Updated 2024-05-01)"))
    def files = new java.io.File(repo.tablePath("s", "frag").toString)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 16)

    repo.compact("s", "frag", targetPartitions = Some(2))
    assert(files <= 2, s"expected <=2 files after compaction, got $files")
    assert(repo.table("s", "frag").count() == 2000)
    assert(repo.lastModified("s", "frag").contains("x (Updated 2024-05-01)"))
  }
}

/** r13: read-only time travel over the archive — reproduce last month's
  * input while today's loads keep landing. */
class TableAsOfSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("tableAsOf reads the newest version at or before the stamp; " +
    "versions lists the timeline") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_asof").toString)
    def v(n: Int) = spark.range(n).toDF("id")
    // three generations: two archived + the active table
    repo.write(v(10), "s", "t", modified = Some("a (Updated 2024-05-01)"))
    repo.archive("s", "t")
    repo.write(v(20), "s", "t", modified = Some("b (Updated 2024-06-01)"))
    repo.archive("s", "t")
    repo.write(v(30), "s", "t", modified = Some("c (Updated 2024-07-01)"))

    val vs = repo.versions("s", "t")
    assert(vs.length == 3 && vs.last._2, vs.toString) // active is last
    assert(vs.map(_._1).forall(_.isDefined))
    assert(vs.map(_._1) == vs.map(_._1).sorted, "oldest first")

    // (Updated d) parses to 02:00 America/New_York = 06:00/07:00 UTC
    def count(asOf: String) = repo.tableAsOf("s", "t", asOf).map(_.count())
    assert(count("20240401T000000Z").isEmpty) // before any version
    assert(count("20240512T000000Z").contains(10L))
    assert(count("20240615T000000Z").contains(20L))
    assert(count("20991231T000000Z").contains(30L)) // active is newest
    // exact boundary: the May version's own stamp matches itself (<=)
    val mayStamp = vs.head._1.get
    assert(count(mayStamp).contains(10L))

    // an unknown_modified archive is excluded from the timeline
    repo.write(v(40), "s", "u") // no modified stamp
    repo.archive("s", "u")
    repo.write(v(50), "s", "u", modified = Some("z (Updated 2024-08-01)"))
    assert(repo.tableAsOf("s", "u", "20240101T000000Z").isEmpty)
    assert(repo.tableAsOf("s", "u", "20991231T000000Z").map(_.count())
      .contains(50L))
  }

  test("repoAsOf resolves a CONSISTENT multi-table snapshot from one " +
    "timeline point; any unresolvable table fails all-or-nothing") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_repoasof").toString)
    def v(n: Int) = spark.range(n).toDF("id")
    // three tables archived at STAGGERED stamps:
    //  a: May(1)  -> Jun(2)           -> active Aug(3)
    //  b: May(11)                     -> active Jul(12)
    //  c:             Jun(21)         -> active Jul(22)
    repo.write(v(1), "s", "a", modified = Some("x (Updated 2024-05-10)"))
    repo.archive("s", "a")
    repo.write(v(2), "s", "a", modified = Some("x (Updated 2024-06-10)"))
    repo.archive("s", "a")
    repo.write(v(3), "s", "a", modified = Some("x (Updated 2024-08-10)"))
    repo.write(v(11), "s", "b", modified = Some("x (Updated 2024-05-20)"))
    repo.archive("s", "b")
    repo.write(v(12), "s", "b", modified = Some("x (Updated 2024-07-20)"))
    repo.write(v(21), "s", "c", modified = Some("x (Updated 2024-06-20)"))
    repo.archive("s", "c")
    repo.write(v(22), "s", "c", modified = Some("x (Updated 2024-07-25)"))

    def counts(asOf: String) =
      repo.repoAsOf("s", Seq("a", "b", "c"), asOf)
        .map { case (t, df) => t -> df.count() }

    // end of June: a@Jun, b@May, c@Jun — one timeline point, mixed
    // active/archived resolution
    assert(counts("20240630T000000Z") ==
      Map("a" -> 2L, "b" -> 11L, "c" -> 21L))
    // far future: every table resolves to its active version
    assert(counts("20991231T000000Z") ==
      Map("a" -> 3L, "b" -> 12L, "c" -> 22L))
    // resolveAsOf exposes the chosen stamps for audit
    val res = repo.resolveAsOf("s", Seq("a", "b", "c"), "20240630T000000Z")
    assert(res.map(_._1) == Seq("a", "b", "c"))
    assert(res.forall(!_._3), "all June resolutions are archived versions")

    // early June: c has NO version yet — all-or-nothing failure names it
    val e = intercept[NoSuchElementException] {
      repo.repoAsOf("s", Seq("a", "b", "c"), "20240601T000000Z")
    }
    assert(e.getMessage.contains("c") && !e.getMessage.contains("for a"),
      e.getMessage)
    // and the duplicate-name guard
    intercept[IllegalArgumentException] {
      repo.repoAsOf("s", Seq("a", "a"), "20991231T000000Z")
    }
  }
}

/** r13: maintenance must not destroy the layouts the sorted/z-order
  * writers exist to create — compact re-applies the layout spec stamped
  * in the meta sidecar. */
class LayoutPreservingCompactSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  /** Per-file [min, max] of `c`, sorted; asserts in-file sortedness. */
  private def fileRanges(repo: PqRepo, schema: String, table: String,
      c: String): Seq[(Long, Long)] = {
    val dir = new java.io.File(repo.tablePath(schema, table).toUri.getPath)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select(c).collect().map(_.getLong(0))
      assert(rows.zip(rows.tail).forall { case (a, b) => a <= b },
        s"${f.getName} not sorted after compact")
      (rows.min, rows.max)
    }.sortBy(_._1)
  }

  private def assertDisjoint(ranges: Seq[(Long, Long)]): Unit =
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file ranges overlap after compact: hi=$hi lo2=$lo2")
    }

  test("compact re-applies a sorted layout: per-file ranges stay tight") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_compact_sorted").toString)
    val df = spark.range(10000).select(
      (col("id") * 2654435761L % 10000).as("k"), col("id").as("v"))
    repo.writeSorted(df, "s", "laidout", sortCols = Seq("k"), numFiles = 4,
      modified = Some("x (Updated 2024-05-01)"))

    repo.compact("s", "laidout")
    val ranges = fileRanges(repo, "s", "laidout", "k")
    assert(ranges.length == 4, s"expected the recorded 4 files, got $ranges")
    assertDisjoint(ranges)
    assert(repo.table("s", "laidout").count() == 10000)
    assert(repo.lastModified("s", "laidout").contains("x (Updated 2024-05-01)"))
    val meta = repo.readTableMeta("s", "laidout")
    assert(meta.get("layout.kind").contains("sorted") &&
      meta.get("layout.cols").contains("k"), meta.toString)

    // a target override re-lays (still sorted, still disjoint) and the
    // re-stamped spec records the new count for the NEXT compaction
    repo.compact("s", "laidout", targetPartitions = Some(2))
    val ranges2 = fileRanges(repo, "s", "laidout", "k")
    assert(ranges2.length == 2, ranges2.toString)
    assertDisjoint(ranges2)
    assert(repo.readTableMeta("s", "laidout")
      .get("layout.files").contains("2"))
  }

  test("compact re-applies a z-order layout: boxes stay narrow in BOTH dims") {
    val repoDir = java.nio.file.Files
      .createTempDirectory("graft_compact_z").toString
    val repo = PqRepo(spark, repoDir)
    val grid = spark.range(10000).select(
      (col("id") % 100).as("x"), (col("id") / 100).cast("long").as("y"))
    repo.writeZOrdered(grid, "lay", "zed", Seq("x", "y"), numFiles = 16, bits = 8)

    def avgRange(c: String): Double = {
      val dir = new java.io.File(s"$repoDir/lay/zed.parquet")
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length > 8, s"expected many files, got ${files.length}")
      val widths = files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col(c)), max(col(c))).head()
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      widths.sum / widths.length
    }
    repo.compact("lay", "zed")
    // the ZOrderSpec tightness bound for the ORIGINAL write — compact
    // must not widen past it (a de-clustering compact measures ~99 here)
    assert(avgRange("x") < 60 && avgRange("y") < 60,
      s"z-order layout lost in compact: x=${avgRange("x")} y=${avgRange("y")}")
    assert(repo.table("lay", "zed").count() == 10000)
    assert(repo.readTableMeta("lay", "zed").get("layout.kind").contains("zorder"))
  }

  test("metaProps travels atomically with write; plain rewrite drops it") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_meta_travel").toString)
    val df = spark.range(100).toDF("id")
    repo.write(df, "s", "t", metaProps = Some(Map("geom" -> "g1")))
    assert(repo.readTableMeta("s", "t") == Map("geom" -> "g1"))
    // no torn staging file left behind
    val dir = new java.io.File(repo.tablePath("s", "t").toUri.getPath)
    assert(!dir.listFiles().exists(_.getName.endsWith(".tmp")))
    // a whole-table rewrite WITHOUT metaProps replaces the dir: stale
    // geometry cannot outlive the layout it described
    repo.write(df, "s", "t")
    assert(repo.readTableMeta("s", "t").isEmpty)
  }
}

class SortedWriteSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("writeSorted lays out disjoint sorted key ranges per file") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_sorted").toString)
    val df = spark.range(10000).select(
      (col("id") * 2654435761L % 10000).as("k"), col("id").as("v"))
    repo.writeSorted(df, "s", "laidout", sortCols = Seq("k"), numFiles = 4)

    val dir = new java.io.File(repo.tablePath("s", "laidout").toString)
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // per-file [min, max] ranges must not overlap (range partitioning) and
    // rows inside each file must be sorted (tight row-group stats)
    val ranges = files.map { f =>
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select("k").collect().map(_.getLong(0))
      assert(rows.zip(rows.tail).forall { case (a, b) => a <= b },
        s"${f.getName} not sorted")
      (rows.min, rows.max)
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file ranges overlap: hi=$hi lo2=$lo2")
    }
    assert(repo.table("s", "laidout").count() == 10000)

    // the payoff: a tight range filter prunes at parquet level — at
    // minimum the filter is pushed to the scan
    val plan = repo.table("s", "laidout").filter(col("k") < 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), LessThan(k,100)]"), plan)
  }
}

class ObservedWriteSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("writeObserved returns load metrics computed by the write job itself") {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("graft_observed").toString)
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("id", "v")
    val (path, metrics) = repo.writeObserved(df, "s", "obs",
      metrics = Seq(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null_v"),
        max(col("id")).as("max_id")),
      modified = Some("x (Updated 2024-05-01)"))

    assert(metrics("n_rows") == 3L)
    assert(metrics("n_null_v") == 1L)
    assert(metrics("max_id") == 3L)
    assert(path.toString.endsWith("s/obs.parquet"))
    assert(repo.table("s", "obs").count() == 3)
    assert(repo.lastModified("s", "obs").contains("x (Updated 2024-05-01)"))
  }
}
