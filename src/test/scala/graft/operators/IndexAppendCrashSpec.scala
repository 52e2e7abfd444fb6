package graft.operators

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{CrashFs, PqRepo}

/** Crash at every commit point of the index appends: for each step k of
  * an append, the append dies at its k-th file system call, and then
  *   1. each table reads without error;
  *   2. the next call's recovery leaves it exactly old or exactly new;
  *   3. a second recovery changes nothing;
  *   4. replaying the batch reaches exactly the state of an append that
  *      never crashed — for new rows `write(A ∪ B)`, for a re-ingest the
  *      copy-on-write merge's — with no tmp layout or manifest left
  *      behind.
  * Steps are the repo's own driver-side calls ([[CrashFs]]). */
class IndexAppendCrashSpec extends SparkSpec {

  private val g = MinHashIndex.Geometry(shingleK = 5, numHashes = 32, bands = 8, buckets = 4)

  private def para(seed: Int, words: Int = 30): String =
    (0 until words).map(i => s"s${seed}w${(i * 7 + seed) % 53}").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  private def leftovers(root: File): Seq[String] =
    Files.walk(root.toPath).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_tmp_") || n.startsWith("_old_") ||
        n == "_merge_manifest.json").toSeq

  /** Walk every crash point of `op` on a copy of the fixture repo built by
    * `build`; `rows` snapshots the tables `op` writes. */
  private def walk(name: String, tables: Seq[String], rows: PqRepo => Seq[Seq[String]])(
      build: PqRepo => Unit)(op: PqRepo => Unit): Seq[Seq[String]] = {
    CrashFs.register(spark)
    val fixture = Files.createTempDirectory(s"crash_$name")
    build(PqRepo(spark, fixture.toString))
    def fresh(): PqRepo = {
      val dir = Files.createTempDirectory(s"crash_${name}_k")
      Files.delete(dir)
      copyTree(fixture, dir)
      PqRepo(spark, "crash://" + dir)
    }
    val before = rows(PqRepo(spark, fixture.toString))
    val clean = fresh()
    val n = CrashFs.run(0)(op(clean))
    val after = rows(clean)
    assert(before != after, s"$name changed nothing")
    assert(n >= 4, s"$name took only $n steps")
    info(s"$name: $n steps")
    for (k <- 1 to n) {
      val repo = fresh()
      intercept[CrashFs.Crash](CrashFs.run(k)(op(repo)))
      // reads of a crashed table do not fail
      tables.foreach(t => repo.table("idx", t).collect())
      def recover(): Boolean = tables.map(t =>
        repo.recoverWrite("idx", t) | repo.recoverMergePartitioned("idx", t)).reduce(_ | _)
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
      assert(leftovers(new File(repo.dataDir.stripPrefix("crash://"))).isEmpty)
    }
    after
  }

  private def mhRows(repo: PqRepo): Seq[Seq[String]] = Seq(
    repo.table("idx", "d_mhdocs").select(col("id").cast("string"), col("dbucket"),
      hex(col("dig")), to_json(col("sig"))),
    repo.table("idx", "d_mhbands").select(col("id").cast("string"), col("band"),
      col("bh"), col("bucket"))
  ).map(_.collect().map(_.toString).toSeq.sorted)

  private val corpus = (1L to 6L).map(i => i -> para(i.toInt))

  test("MinHashIndex.append of new docs recovers from a crash at every step") {
    val batch = docs(7L -> para(7), 8L -> para(8), 9L -> "ab")
    val after = walk("mh_new", Seq("d_mhdocs", "d_mhbands"), mhRows)(
      MinHashIndex.write(_, docs(corpus: _*), "doc_id", "text", "idx", "d", g))(
      MinHashIndex.append(_, batch, "doc_id", "text", "idx", "d"))
    val all = PqRepo(spark, Files.createTempDirectory("crash_mh_all").toString)
    MinHashIndex.write(all, docs(corpus: _*).unionByName(batch), "doc_id", "text",
      "idx", "d", g)
    assert(after == mhRows(all))
  }

  test("a checkChanged = false re-ingest, which swaps and adds, recovers from " +
    "a crash at every step") {
    // id 2 changes its text (a key hit: its dbucket is swapped), 3 is
    // unchanged (drops out), 10 is new (an insert)
    val batch = docs(2L -> para(22), 3L -> para(3), 10L -> para(10))
    val after = walk("mh_mixed", Seq("d_mhdocs", "d_mhbands"), mhRows)(
      MinHashIndex.write(_, docs(corpus: _*), "doc_id", "text", "idx", "d", g))(
      MinHashIndex.append(_, batch, "doc_id", "text", "idx", "d", checkChanged = false))
    val ref = PqRepo(spark, Files.createTempDirectory("crash_mh_ref").toString)
    MinHashIndex.write(ref, docs(corpus: _*), "doc_id", "text", "idx", "d", g)
    IndexAppendMergePlan.minHashAppend(ref, batch, "doc_id", "text", "idx", "d",
      checkChanged = false)
    assert(after == mhRows(ref))
  }

  test("appendToIvfIndex of new ids recovers from a crash at every step") {
    val dim = 4
    def vec(c: Int, j: Int): Seq[Float] =
      (0 until dim).map(d => (if (d == c) 1.0f else 0.0f) + 0.01f * ((j + d) % 5))
    val cents = (0 until dim).map(c => c -> (0 until dim).map(d => if (d == c) 1.0 else 0.0))
    def frame(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map(i => (i, vec((i % dim).toInt, i.toInt))).toDF("vec_id", "embedding")
    }
    def ivfRows(repo: PqRepo): Seq[Seq[String]] = Seq(
      repo.table("idx", "e_ivf").select(col("id"), col("cluster"), to_json(col("v")))
        .collect().map(_.toString).toSeq.sorted)
    def build(vecs: DataFrame)(repo: PqRepo): Unit =
      Similarity.writeIvfIndex(repo, Similarity.IvfIndex(cents, Similarity.assignClusters(
        vecs.select(col("vec_id").as("id"), col("embedding").as("v")), cents)), "idx", "e")
    val batch = frame(100L to 105L)
    val after = walk("ivf_new", Seq("e_ivf"), ivfRows)(build(frame(1L to 12L)))(
      Similarity.appendToIvfIndex(_, batch, "vec_id", "embedding", "idx", "e"))
    val all = PqRepo(spark, Files.createTempDirectory("crash_ivf_all").toString)
    build(frame((1L to 12L) ++ (100L to 105L)))(all)
    assert(after == ivfRows(all))
  }
}
