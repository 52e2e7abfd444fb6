package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("merge replaces by key, appends new keys, carries the rest") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergespec").toString)
    repo.write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v"), "s", "t")
    repo.merge(Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v"),
      "s", "t", Seq("k"))
    val out = repo.table("s", "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 10.0), (2L, "b2", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("composite keys and repeated merges stay consistent") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergespec2").toString)
    repo.write(Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k1", "k2", "v"), "s", "t")
    repo.merge(Seq((1L, "y", 5.0)).toDF("k1", "k2", "v"), "s", "t", Seq("k1", "k2"))
    repo.merge(Seq((2L, "z", 9.0)).toDF("k1", "k2", "v"), "s", "t", Seq("k1", "k2"))
    val out = repo.table("s", "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "x", 1.0), (1L, "y", 5.0), (2L, "z", 9.0)))
  }

  test("a NULL-keyed update replaces the existing NULL-keyed row " +
    "(null-safe key match), and first merge bootstraps a missing table") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergespec3").toString)
    // first merge: destination absent -> plain insert
    repo.merge(Seq((Some("a"), 1.0), (None, 2.0)).toDF("k", "v"),
      "s", "t", Seq("k"))
    // NULL-keyed update must REPLACE, not append beside, the NULL row
    repo.merge(Seq((None: Option[String], 9.0)).toDF("k", "v"),
      "s", "t", Seq("k"))
    val out = repo.table("s", "t").collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1))).toSet
    assert(out == Set((Some("a"), 1.0), (None, 9.0)))
  }

  test("merge rejects a drifted updates schema up front, naming the drift") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergeschema1").toString)
    repo.write(Seq((1L, "a", 10.0)).toDF("k", "name", "v"), "s", "t")
    // updates drop `v` and add `extra`: both directions named in one error
    val e = intercept[IllegalArgumentException] {
      repo.merge(Seq((2L, "b", "huh")).toDF("k", "name", "extra"),
        "s", "t", Seq("k"))
    }
    assert(e.getMessage.contains("merge(s/t)"), e.getMessage)
    assert(e.getMessage.contains("missing from updates: [v]"), e.getMessage)
    assert(e.getMessage.contains("new in updates: [extra]"), e.getMessage)
    // nothing ran: the table is untouched
    assert(repo.table("s", "t").count() == 1)
  }

  test("merge evolves the schema on opt-in: absent columns null-fill " +
    "on either side; an evolved-away merge key stays rejected") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergeschema2").toString)
    repo.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v"),
      "s", "t")
    // updates lack `v` (old column → null for new rows) and add `tag`
    // (new column → null for carried-over rows)
    repo.merge(Seq((2L, "b2", "fresh"), (3L, "c", "new")).toDF("k", "name", "tag"),
      "s", "t", Seq("k"), allowMissingColumns = true)
    val out = repo.table("s", "t").select("k", "name", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.getString(3)))).toSet
    assert(out == Set(
      (1L, "a", Some(10.0), None),
      (2L, "b2", None, Some("fresh")),
      (3L, "c", None, Some("new"))), out.toString)
    // a batch without the merge key can never evolve past the guard —
    // a null-filled key would null-match (<=>) unrelated rows
    val e = intercept[IllegalArgumentException] {
      repo.merge(Seq(("x", 1.0)).toDF("name", "v"), "s", "t", Seq("k"),
        allowMissingColumns = true)
    }
    assert(e.getMessage.contains("merge key column(s) [k]"), e.getMessage)
  }

  test("hive-layout merge schema guard: drift rejected by default, " +
    "missing-column evolution allowed, added columns always rejected") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergeschema3").toString)
    repo.write(
      Seq(("d1", 1L, 10.0, "x"), ("d2", 2L, 20.0, "y"))
        .toDF("day", "k", "v", "note"),
      "s", "t", partitionCols = Seq("day"))
    // default: drift is named before any partition is touched
    val e1 = intercept[IllegalArgumentException] {
      repo.merge(Seq(("d1", 1L, 11.0)).toDF("day", "k", "v"),
        "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"))
    }
    assert(e1.getMessage.contains("merge(s/t)") &&
      e1.getMessage.contains("missing from updates: [note]"), e1.getMessage)
    // opt-in: a batch missing `note` lands with nulls — file schemas stay
    // uniform because the output keeps the current table's full schema
    repo.merge(Seq(("d1", 1L, 11.0)).toDF("day", "k", "v"),
      "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"),
      allowMissingColumns = true)
    val out = repo.table("s", "t").select("day", "k", "v", "note").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet
    assert(out == Set(("d1", 1L, 11.0, None), ("d2", 2L, 20.0, Some("y"))),
      out.toString)
    // a batch ADDING a column can never evolve partition-scoped: untouched
    // partitions' files would keep the old schema (inference-order reads)
    val e2 = intercept[IllegalArgumentException] {
      repo.merge(
        Seq(("d1", 1L, 12.0, "x", "new")).toDF("day", "k", "v", "note", "extra"),
        "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"),
        allowMissingColumns = true)
    }
    assert(e2.getMessage.contains("cannot evolve untouched partitions"),
      e2.getMessage)
  }

  test("hive-layout merge rewrites only affected partitions — untouched " +
    "partition files stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("mergespec4")
    val repo = PqRepo(spark, dir.toString)
    repo.write(
      Seq(("d1", 1L, 10.0), ("d1", 2L, 20.0), ("d2", 3L, 30.0), ("d3", 4L, 40.0))
        .toDF("day", "k", "v"),
      "s", "t", partitionCols = Seq("day"))

    def files(sub: String): Map[String, Array[Byte]] = {
      val base = java.nio.file.Paths.get(dir.toString, "s", "t.parquet", sub)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
    }
    val d2Before = files("day=d2")
    val d3Before = files("day=d3")

    // touches d1 (update k=2) and a NEW partition d4
    repo.merge(
      Seq(("d1", 2L, 99.0), ("d4", 5L, 50.0)).toDF("day", "k", "v"),
      "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"))

    val out = repo.table("s", "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(out == Set((1L, 10.0, "d1"), (2L, 99.0, "d1"), (3L, 30.0, "d2"),
      (4L, 40.0, "d3"), (5L, 50.0, "d4")))

    // untouched partitions: same files, same bytes
    assert(files("day=d2").keySet == d2Before.keySet)
    assert(files("day=d3").keySet == d3Before.keySet)
    d2Before.foreach { case (p, bytes) =>
      assert(java.util.Arrays.equals(bytes, files("day=d2")(p)), s"$p changed") }
    d3Before.foreach { case (p, bytes) =>
      assert(java.util.Arrays.equals(bytes, files("day=d3")(p)), s"$p changed") }
  }

  test("hive-layout merge survives partition values whose toString differs " +
    "from the writer's path rendering (timestamp partitions)") {
    // java.sql.Timestamp.toString appends ".0" while Spark's writer does
    // not: a manifest keyed on re-rendered row values recorded hasNew =
    // false for every such partition and silently DISCARDED the merged
    // update at cleanup — promotion truth must come from listing the tmp
    // layout the writer actually produced
    val dir = java.nio.file.Files.createTempDirectory("mergets")
    val repo = PqRepo(spark, dir.toString)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    repo.write(
      Seq((ts("2024-01-01 10:00:00"), 1L, 10.0), (ts("2024-01-02 10:00:00"), 2L, 20.0))
        .toDF("pt", "k", "v"),
      "s", "tts", partitionCols = Seq("pt"))
    repo.merge(
      Seq((ts("2024-01-01 10:00:00"), 1L, 99.0), (ts("2024-01-03 10:00:00"), 3L, 30.0))
        .toDF("pt", "k", "v"),
      "s", "tts", keys = Seq("pt", "k"), partitionCols = Seq("pt"))
    val out = repo.table("s", "tts").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 99.0), (2L, 20.0), (3L, 30.0)))
  }

  test("hive-layout merge stamps lastModified on rewritten partitions " +
    "(the merge path keeps the hive-layout write's metadata contract)") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergespec6").toString)
    repo.write(Seq(("d1", 1L, 1.0)).toDF("day", "k", "v"),
      "s", "t", partitionCols = Seq("day"), modified = Some("2026-01-01"))
    assert(repo.lastModified("s", "t").contains("2026-01-01"))
    repo.merge(Seq(("d1", 1L, 2.0)).toDF("day", "k", "v"),
      "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"),
      modified = Some("2026-02-02"))
    assert(repo.lastModified("s", "t").contains("2026-02-02"))
  }

  test("a merge killed between two partition swaps recovers from the " +
    "manifest: every recorded partition reaches its merged state") {
    val dir = java.nio.file.Files.createTempDirectory("mergespec7")
    val repo = PqRepo(spark, dir.toString)
    repo.write(
      Seq(("d1", 1L, 10.0), ("d2", 2L, 20.0), ("d3", 3L, 30.0))
        .toDF("day", "k", "v"),
      "s", "t", partitionCols = Seq("day"))

    // Reconstruct the exact on-disk state of a merge (updates touching d1
    // and d2) killed between the two swaps: the tmp layout and manifest are
    // committed, d1 is mid-swap (old dir already renamed to its sidecar,
    // new dir not yet promoted), d2's swap hasn't started.
    val base = java.nio.file.Paths.get(dir.toString, "s")
    Seq(("d1", 1L, 99.0), ("d2", 2L, 88.0)).toDF("day", "k", "v")
      .write.partitionBy("day").parquet(base.resolve("_tmp_t.parquet").toString)
    val tableDir = base.resolve("t.parquet")
    java.nio.file.Files.writeString(
      tableDir.resolve("_merge_manifest.json"),
      s"""{"table":"t","tmp":"${base.resolve("_tmp_t.parquet")}","partitions":[""" +
        """{"dir":"day=d1","hasNew":true},{"dir":"day=d2","hasNew":true}]}""")
    java.nio.file.Files.move(
      tableDir.resolve("day=d1"), tableDir.resolve("_old_day=d1"))

    // the interrupted state is visible: d1 missing entirely (the documented
    // crash window the sidecar protocol bounds), d2 still old
    assert(!java.nio.file.Files.exists(tableDir.resolve("day=d1")))

    assert(repo.recover("s", "t"))
    val out = repo.table("s", "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(out == Set((1L, 99.0, "d1"), (2L, 88.0, "d2"), (3L, 30.0, "d3")))
    // all machinery cleaned up: no sidecars, no tmp layout, no manifest
    assert(!java.nio.file.Files.exists(tableDir.resolve("_old_day=d1")))
    assert(!java.nio.file.Files.exists(tableDir.resolve("_merge_manifest.json")))
    assert(!java.nio.file.Files.exists(base.resolve("_tmp_t.parquet")))
    // a clean table has nothing to recover
    assert(!repo.recover("s", "t"))

    // and a subsequent normal merge still behaves
    repo.merge(Seq(("d3", 3L, 77.0)).toDF("day", "k", "v"),
      "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"))
    val after = repo.table("s", "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(after == Set((1L, 99.0, "d1"), (2L, 88.0, "d2"), (3L, 77.0, "d3")))
  }

  test("hive-layout merge bootstraps a missing destination and rejects " +
    "partition columns outside the key set") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("mergespec5").toString)
    repo.merge(Seq(("d1", 1L, 1.0)).toDF("day", "k", "v"),
      "s", "t", keys = Seq("day", "k"), partitionCols = Seq("day"))
    assert(repo.table("s", "t").count() == 1)
    val e = intercept[IllegalArgumentException] {
      repo.merge(Seq(("d1", 1L, 1.0)).toDF("day", "k", "v"),
        "s", "t", keys = Seq("k"), partitionCols = Seq("day"))
    }
    assert(e.getMessage.contains("subset"))
  }
}
