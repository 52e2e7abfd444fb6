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
    * `build`; `rows` snapshots the tables `op` writes. With a `reference`,
    * the uncrashed result must equal what it leaves on another copy. */
  private def walk(name: String, tables: Seq[String], rows: PqRepo => Seq[Seq[String]],
      reference: Option[PqRepo => Unit] = None)(
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

  private val dim = 4
  private def vec(c: Int, j: Int): Seq[Float] =
    (0 until dim).map(d => (if (d == c) 1.0f else 0.0f) + 0.01f * ((j + d) % 5))
  private val cents = (0 until dim).map(c => c -> (0 until dim).map(d => if (d == c) 1.0 else 0.0))
  /** Vectors of `ids`, each near the centroid of `cluster(id)`. */
  private def frame(ids: Seq[Long], cluster: Long => Int = i => (i % dim).toInt) = {
    import spark.implicits._
    ids.map(i => (i, vec(cluster(i), i.toInt))).toDF("vec_id", "embedding")
  }
  private def ivfRows(repo: PqRepo): Seq[Seq[String]] = Seq(
    repo.table("idx", "e_ivf").select(col("id"), col("cluster"), to_json(col("v")))
      .collect().map(_.toString).toSeq.sorted)
  private def ivf(vecs: DataFrame): Similarity.IvfIndex =
    Similarity.IvfIndex(cents, Similarity.assignClusters(
      vecs.select(col("vec_id").as("id"), col("embedding").as("v")), cents))
  private def build(vecs: DataFrame)(repo: PqRepo): Unit =
    Similarity.writeIvfIndex(repo, ivf(vecs), "idx", "e")

  test("appendToIvfIndex of new ids recovers from a crash at every step") {
    val batch = frame(100L to 105L)
    val after = walk("ivf_new", Seq("e_ivf"), ivfRows)(build(frame(1L to 12L)))(
      Similarity.appendToIvfIndex(_, batch, "vec_id", "embedding", "idx", "e"))
    val all = PqRepo(spark, Files.createTempDirectory("crash_ivf_all").toString)
    build(frame((1L to 12L) ++ (100L to 105L)))(all)
    assert(after == ivfRows(all))
  }

  test("appendToIvfPqIndex of new ids recovers from a crash at every step") {
    def pqRows(repo: PqRepo): Seq[Seq[String]] = Seq(
      repo.table("idx", "e_ivfpq").select(col("id"), col("cluster"), to_json(col("codes")))
        .collect().map(_.toString).toSeq.sorted)
    val batch = frame(100L to 105L)
    walk("ivfpq_new", Seq("e_ivfpq"), pqRows,
      Some(IndexAppendMergePlan.ivfPqAppend(_, batch, "vec_id", "embedding", "idx", "e"))) {
      repo =>
        val base = frame(1L to 12L)
        Similarity.writeIvfPqIndex(repo, ivf(base), Similarity.pqTrain(base, "vec_id",
          "embedding", m = 2, ksub = 4, kmeansIters = 2, sampleRows = 8), "idx", "e")
    }(Similarity.appendToIvfPqIndex(_, batch, "vec_id", "embedding", "idx", "e"))
  }

  test("an appendToQuantizedIndex upsert, which swaps and adds, recovers from a " +
    "crash at every step") {
    def bucket(id: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(4L))).head().getLong(0)
    // id 2 takes another vector (a key hit: its bucket is swapped); the
    // new id hashes into another bucket (an insert)
    val newId = (100L to 200L).find(bucket(_) != bucket(2L)).get
    val batch = frame(Seq(2L, newId), i => (i + 1).toInt % dim)
    def q8Rows(repo: PqRepo): Seq[Seq[String]] = Seq(
      repo.table("idx", "q_q8").select(col("vec_id"), col("bucket"), col("qmin"),
        col("qmax"), to_json(col("codes"))).collect().map(_.toString).toSeq.sorted)
    walk("q8_mixed", Seq("q_q8"), q8Rows,
      Some(IndexAppendMergePlan.q8Append(_, batch, "vec_id", "embedding", "idx", "q")))(
      Similarity.writeQuantizedIndex(_, frame(1L to 12L), "vec_id", "embedding", "idx", "q",
        numBuckets = 4))(
      Similarity.appendToQuantizedIndex(_, batch, "vec_id", "embedding", "idx", "q"))
  }

  test("a reassignIvfIndex batch of one moved id and one new id recovers from a " +
    "crash at every step") {
    // id 2 moves from cluster 2 to 3 (its old cluster is swapped); id 100
    // is new (an insert into cluster 0)
    val batch = frame(Seq(2L, 100L), i => if (i == 2L) 3 else 0)
    walk("ivf_reassign", Seq("e_ivf"), ivfRows,
      Some(IndexAppendMergePlan.ivfReassign(_, batch, "vec_id", "embedding", "idx", "e")))(
      build(frame(1L to 12L)))(
      Similarity.reassignIvfIndex(_, batch, "vec_id", "embedding", "idx", "e"))
  }
}
