package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ParquetBridge

import graft.SparkSpec
import graft.streaming.StreamToRepo

/** Crash at every commit point of the repo's own writes, merges, archive
  * and restore, and of a ledgered streaming landing ([[CrashWalk]]). */
class PqRepoCrashSpec extends SparkSpec with CrashWalk {
  import spark.implicits._

  private val may = Some("x (Updated 2024-05-01)")
  private val june = Some("x (Updated 2024-06-01)")

  private def flat(rows: (String, Long, String)*): DataFrame = rows.toDF("day", "k", "v")
  private val base = flat(("d1", 1L, "a"), ("d2", 2L, "b"), ("d3", 3L, "c"))
  private val next = flat(("d1", 1L, "a2"), ("d4", 4L, "d"))
  // touches d1 (a key hit) and d4 (a new partition)
  private val updates = flat(("d1", 1L, "a3"), ("d4", 5L, "e"))
  private val day = Seq("day")
  private val keys = Seq("day", "k")

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select("day", "k", "v").collect().map(_.toString).toSeq.sorted

  /** Rows, stamp, sidecar and layout of `s/t`. */
  private def state(repo: PqRepo, t: String = "t"): Seq[String] =
    if (!exists(repo.tablePath("s", t))) Seq("absent")
    else rowsOf(repo.table("s", t)) ++ Seq(
      s"modified=${repo.lastModified("s", t)}",
      s"meta=${repo.readTableMeta("s", t).toSeq.sorted}",
      s"partitions=${ParquetBridge.partitionColumns(repo.table("s", t))}")

  /** The archived snapshots of `s/t`: name and rows of each. */
  private def archived(repo: PqRepo): Seq[String] =
    repo.versions("s", "t").filterNot(_._2).flatMap { case (_, _, p) =>
      p.getName +: rowsOf(ParquetBridge.read(spark, p))
    }

  private def one(repo: PqRepo): Seq[Seq[String]] = Seq(state(repo))
  private def withArchive(repo: PqRepo): Seq[Seq[String]] = Seq(state(repo) ++ archived(repo))

  test("a flat write recovers from a crash at every step") {
    walk("write_flat", Seq("t"), one, schema = "s", absentOk = true)(
      _.write(base, "s", "t", modified = may))(
      _.write(next, "s", "t", modified = june))
  }

  test("a partitioned write with metaProps recovers from a crash at every step") {
    walk("write_part", Seq("t"), one, schema = "s", absentOk = true)(
      _.write(base, "s", "t", modified = may, metaProps = Some(Map("g" -> "1")),
        partitionCols = day))(
      _.write(next, "s", "t", modified = june, metaProps = Some(Map("g" -> "2")),
        partitionCols = day))
  }

  test("an archiving write recovers from a crash at every step: the archive " +
    "holds the old table whenever the new one landed") {
    // updateWrite's gate makes the replay skip once the new table landed
    walk("write_archive", Seq("t"), withArchive, schema = "s", absentOk = true)(
      _.write(base, "s", "t", modified = may))(
      _.updateWrite(next, "s", "t", june, archiveExisting = true))
  }

  test("a restore that archives the current table recovers from a crash at " +
    "every step") {
    val after = walk("restore", Seq("t"), withArchive, schema = "s", absentOk = true) { repo =>
      repo.write(base, "s", "t", modified = may)
      repo.archive("s", "t")
      repo.write(next, "s", "t", modified = june)
    }(_.restore("t_20240501T060000Z", "s"))
    assert(after.head.contains("t_20240601T060000Z.parquet"))
  }

  test("a flat merge recovers from a crash at every step") {
    walk("merge_flat", Seq("t"), one, schema = "s", absentOk = true)(
      _.write(base, "s", "t", modified = may))(
      _.merge(updates, "s", "t", keys, modified = june))
  }

  test("a partitioned merge recovers from a crash at every step") {
    walk("merge_part", Seq("t"), one, schema = "s")(
      _.write(base, "s", "t", modified = may, partitionCols = day))(
      _.merge(updates, "s", "t", keys, modified = june, partitionCols = day))
  }

  test("a ledgered merge, then its marker, recovers from a crash at every step") {
    walk("ledgered", Seq("t"), one, schema = "s", absentOk = true,
      replayed = r => assert(StreamToRepo.committedBatches(r, "s", "t") == Seq(7L)))(
      _.write(base, "s", "t", modified = may))(
      StreamToRepo.mergeSink(_, "s", "t", keys)(updates, 7L))
  }

  test("a compact and an archiving write after a crashed partitioned merge " +
    "see the table exactly old or exactly merged") {
    val fresh = fixture("merge_then_compact")(
      _.write(base, "s", "t", modified = may, partitionCols = day))
    def merge(repo: PqRepo): Unit =
      repo.merge(updates, "s", "t", keys, modified = june, partitionCols = day)
    val old = rowsOf(fresh().table("s", "t"))
    val clean = fresh()
    val n = CrashFs.run(0)(merge(clean))
    val merged = rowsOf(clean.table("s", "t"))
    for (k <- 1 to n) {
      val repo = fresh()
      intercept[CrashFs.Crash](CrashFs.run(k)(merge(repo)))
      repo.compact("s", "t")
      val compacted = rowsOf(repo.table("s", "t"))
      assert(compacted == old || compacted == merged,
        s"crash at step $k of $n: compact made $compacted")
      repo.write(next, "s", "t", archiveExisting = true, partitionCols = day)
      val snapshots = repo.versions("s", "t").filterNot(_._2)
      assert(snapshots.length == 1)
      val kept = rowsOf(ParquetBridge.read(spark, snapshots.head._3))
      assert(kept == compacted, s"crash at step $k of $n: the archive holds $kept")
    }
  }

  test("a merge refuses a table laid out otherwise and leaves its rows unchanged") {
    val repo = PqRepo(spark, java.nio.file.Files.createTempDirectory("layout").toString)
    repo.write(flat(("d1", 1L, "a"), ("d2", 2L, "b")), "s", "flat")
    repo.write(flat(("d1", 1L, "a"), ("d2", 2L, "b")), "s", "part", partitionCols = day)
    val flatBefore = state(repo, "flat")
    val partBefore = state(repo, "part")
    val e1 = intercept[IllegalStateException](
      repo.merge(flat(("d1", 1L, "z")), "s", "flat", keys, partitionCols = day))
    assert(e1.getMessage.contains("flat"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      repo.merge(flat(("d1", 1L, "z")), "s", "part", keys))
    assert(e2.getMessage.contains("hive-partitioned on [day]"), e2.getMessage)
    assert(state(repo, "flat") == flatBefore)
    assert(state(repo, "part") == partBefore)
  }
}
