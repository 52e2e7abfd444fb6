package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{CrashWalk, PqRepo}

/** Crash at every commit point of the index writes and appends
  * ([[CrashWalk]]): after recovery each table is exactly old or exactly
  * new, and replaying the batch reaches exactly the state of an append
  * that never crashed — for new rows `write(A ∪ B)`, for a re-ingest the
  * copy-on-write merge's. */
class IndexAppendCrashSpec extends SparkSpec with CrashWalk {

  private val g = MinHashIndex.Geometry(shingleK = 5, numHashes = 32, bands = 8, buckets = 4)

  private def para(seed: Int, words: Int = 30): String =
    (0 until words).map(i => s"s${seed}w${(i * 7 + seed) % 53}").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
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

  test("MinHashIndex.write over an existing index recovers from a crash at every step") {
    // both tables are rewritten whole, overlapped: each ends old or new
    walk("mh_write", Seq("d_mhdocs", "d_mhbands"), mhRows, absentOk = true)(
      MinHashIndex.write(_, docs(corpus: _*), "doc_id", "text", "idx", "d", g))(
      MinHashIndex.write(_, docs(corpus.take(3) :+ (7L -> para(7)): _*), "doc_id", "text",
        "idx", "d", g))
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
