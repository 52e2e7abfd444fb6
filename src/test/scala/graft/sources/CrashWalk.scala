package graft.sources

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Crash at every commit point of a repo operation: for each step k of
  * the operation, it dies at its k-th file system call ([[CrashFs]]),
  * and then
  *   1. each table reads without error (or, with `absentOk`, is absent:
  *      a whole-table promote leaves the path empty between its two
  *      renames);
  *   2. [[PqRepo.recover]] leaves each table exactly old or exactly new;
  *   3. a second recovery changes nothing;
  *   4. replaying the operation reaches exactly the state of a run that
  *      never crashed, with no tmp layout, sidecar, stamp or manifest left
  *      behind.
  * Steps are the repo's own driver-side calls. */
trait CrashWalk { this: SparkSpec =>

  def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** The commit machinery left under `root`. */
  def leftovers(root: File): Seq[String] =
    Files.walk(root.toPath).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_tmp_") || n.startsWith("_old_") ||
        n == "_merge_manifest.json" || n == "_graft_promote.json").toSeq

  /** Build a fixture repo; the result makes a fresh copy of it under the
    * `crash` scheme per call. */
  def fixture(name: String)(build: PqRepo => Unit): () => PqRepo = {
    CrashFs.register(spark)
    val root = Files.createTempDirectory(s"crash_$name")
    build(PqRepo(spark, root.toString))
    () => {
      val dir = Files.createTempDirectory(s"crash_${name}_k")
      Files.delete(dir)
      copyTree(root, dir)
      PqRepo(spark, "crash://" + dir)
    }
  }

  /** Walk every crash point of `op` on a copy of the fixture repo built by
    * `build`; `rows` snapshots the state `op` changes, one entry per
    * table of `tables` (in `schema`). With a `reference`, the uncrashed
    * result must equal what it leaves on another copy; `replayed` checks
    * each replay further. Returns the uncrashed result. */
  def walk(name: String, tables: Seq[String], rows: PqRepo => Seq[Seq[String]],
      reference: Option[PqRepo => Unit] = None, schema: String = "idx",
      absentOk: Boolean = false, replayed: PqRepo => Unit = _ => ())(
      build: PqRepo => Unit)(op: PqRepo => Unit): Seq[Seq[String]] = {
    val fresh = fixture(name)(build)
    val before = rows(fresh())
    val clean = fresh()
    val n = CrashFs.run(0)(op(clean))
    val after = rows(clean)
    reference.foreach { ref =>
      val repo = fresh()
      ref(repo)
      assert(rows(repo) == after, s"$name differs from its reference")
    }
    assert(before != after, s"$name changed nothing")
    assert(n >= 4, s"$name took only $n steps")
    info(s"$name: $n steps")
    for (k <- 1 to n) {
      val repo = fresh()
      intercept[CrashFs.Crash](CrashFs.run(k)(op(repo)))
      tables.foreach { t =>
        val p = repo.tablePath(schema, t)
        if (!absentOk || p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          repo.table(schema, t).collect()
      }
      def recover(): Boolean = tables.map(repo.recover(schema, _)).reduce(_ | _)
      recover()
      val healed = rows(repo)
      healed.indices.foreach { i =>
        assert(healed(i) == before(i) || healed(i) == after(i),
          s"$name, crash at step $k of $n: ${tables(i)} is neither old nor new")
      }
      assert(!recover(), s"$name, step $k: a second recovery found work")
      assert(rows(repo) == healed)
      op(repo)
      assert(rows(repo) == after, s"$name, crash at step $k of $n: replay differs")
      replayed(repo)
      assert(leftovers(new File(repo.dataDir.stripPrefix("crash://"))).isEmpty,
        s"$name, crash at step $k of $n: commit machinery left behind")
    }
    after
  }
}
