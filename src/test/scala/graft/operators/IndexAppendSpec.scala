package graft.operators

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.sources.PqRepo

/** The index appends against the copy-on-write merge they replaced
  * ([[IndexAppendMergePlan]]): random sequences of appends leave both
  * tables with the same rows after every step. Also pins what an append
  * costs: its jobs, the bytes it writes as the index grows, and that an
  * all-insert append leaves every indexed file as it was. */
class IndexAppendSpec extends SparkSpec {
  import IndexAppendSpec._

  private val g = MinHashIndex.Geometry(shingleK = 5, numHashes = 32, bands = 8, buckets = 4)

  private def para(seed: Int, words: Int = 30): String =
    (0 until words).map(i => s"s${seed}w${(i * 7 + seed) % 53}").mkString(" ")

  private def freshRepo(): PqRepo =
    PqRepo(spark, Files.createTempDirectory("index_append").toString)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(rows: Seq[(Option[Long], String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, t) => Row(id.orNull, t) }: _*), docSchema)

  private def mhRows(repo: PqRepo): Seq[Seq[String]] = Seq(
    repo.table("idx", "d_mhdocs").select(col("id").cast("string"), col("dbucket"),
      hex(col("dig")), to_json(col("sig"))),
    repo.table("idx", "d_mhbands").select(col("id").cast("string"), col("band"),
      col("bh"), col("bucket"))
  ).map(_.collect().map(_.toString).toSeq.sorted)

  /** Data files per partition directory of a table. */
  private def filesPer(repo: PqRepo, table: String): Map[String, Int] =
    new File(repo.tablePath("idx", table).toUri.getPath).listFiles()
      .filter(d => d.isDirectory && d.getName.contains("="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def dataFiles(repo: PqRepo, table: String): Map[String, (Long, Long)] =
    new File(repo.tablePath("idx", table).toUri.getPath).listFiles()
      .filter(d => d.isDirectory && d.getName.contains("="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => f.getPath -> (f.lastModified(), f.length())).toMap

  /** A batch for one step, from the docs landed so far. */
  private def batchOf(s: Step, landed: Seq[(Option[Long], String)], next: () => Long)
      : Seq[(Option[Long], String)] = {
    val known = landed.filter(_._1.nonEmpty)
    def old(i: Int) = known((s.a + i * 7) % known.length)
    s.kind match {
      case "fresh" => (0 to s.n).map(i => Some(next()) -> para(1000 + s.a + i))
      case "reingest" => (0 to s.n).map(old).distinct
      case "changed" | "guarded" => Seq(old(0)._1 -> para(2000 + s.a))
      case "dupId" =>
        val id = Some(next())
        Seq(id -> para(3000 + s.a), id -> (if (s.flip) para(3000 + s.a) else para(3500 + s.a)))
      case "nullId" => Seq(None -> (if (s.flip) old(0)._2 else para(4000 + s.a)))
      case _ => Seq(old(0), Some(next()) -> para(5000 + s.a))
    }
  }

  test("random MinHashIndex.append sequences leave the rows the copy-on-write " +
    "merge leaves") {
    val seen = scala.collection.mutable.Set.empty[String]
    var seed = org.scalacheck.rng.Seed(7101L)
    (0 until 2).foreach { _ =>
      val steps = stepsGen(14).apply(Gen.Parameters.default, seed).get
      seed = seed.next
      var id = 100L
      val base = (1L to 5L).map(i => Some(i) -> para(i.toInt)) :+ (None -> para(99))
      val (ref, inc) = (freshRepo(), freshRepo())
      Seq(ref, inc).foreach(MinHashIndex.write(_, docs(base), "doc_id", "text", "idx", "d", g))
      val landed = ArrayBuffer(base: _*)
      var files = filesPer(inc, "d_mhbands")
      steps.foreach { s =>
        val rows = batchOf(s, landed.toSeq, () => { id += 1; id })
        val batch = docs(rows)
        val check = s.kind != "changed"
        val r = Try(IndexAppendMergePlan.minHashAppend(ref, batch, "doc_id", "text",
          "idx", "d", check))
        val i = Try(MinHashIndex.append(inc, batch, "doc_id", "text", "idx", "d", check))
        (r, i) match {
          case (Success(_), Success(_)) => landed ++= rows
          case (Failure(e1: IllegalStateException), Failure(e2: IllegalStateException)) =>
            assert(e2.getMessage.contains("content changed"), e2.getMessage)
            seen += "guardFailed"
          case other => fail(s"$s: reference and append disagree: $other")
        }
        assert(mhRows(inc) == mhRows(ref), s"after $s")
        val now = filesPer(inc, "d_mhbands")
        assert(now.values.forall(_ <= PqRepo.FoldFiles), now)
        if (now.exists { case (p, n) => n < files.getOrElse(p, 0) && files(p) >= PqRepo.FoldFiles })
          seen += "fold"
        files = now
        seen += s.kind
      }
    }
    val wanted = Kinds :+ "fold" :+ "guardFailed"
    assert(wanted.filterNot(seen).isEmpty, s"never reached: ${wanted.filterNot(seen)}")
  }

  private val dim = 4
  private val cents = (0 until dim).map(c => c -> (0 until dim).map(d => if (d == c) 1.0 else 0.0))
  private def vec(c: Int, j: Int): Seq[Float] =
    (0 until dim).map(d => (if (d == c) 1.0f else 0.0f) + 0.01f * ((j + d) % 7))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private def vecs(rows: Seq[(Option[Long], Int, Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, c, j) =>
      Row(id.orNull, vec(c, j)) }: _*), vecSchema)
  private def ivfIndex(repo: PqRepo, rows: Seq[(Option[Long], Int, Int)]): Unit =
    Similarity.writeIvfIndex(repo, Similarity.IvfIndex(cents, Similarity.assignClusters(
      vecs(rows).select(col("vec_id").as("id"), col("embedding").as("v")), cents)), "idx", "e")
  private def ivfRows(repo: PqRepo): Seq[String] =
    repo.table("idx", "e_ivf").select(col("id"), col("cluster"), to_json(col("v")))
      .collect().map(_.toString).toSeq.sorted

  /** A seeded sequence of `n` vector batches (every kind of `kinds` at
    * least once) run through `ref` and `keyed` on two copies of the index
    * `build` writes from `base`; the tables hold the same rows
    * (`tableRows`) after every step. Returns the kinds reached, and
    * "guardFailed" when both paths refused a batch. */
  private def vecSequence(seed: Long, n: Int, kinds: Seq[String],
      base: Seq[(Option[Long], Int, Int)])(build: (PqRepo, Seq[(Option[Long], Int, Int)]) => Unit)(
      ref: (PqRepo, DataFrame, Boolean) => Unit, keyed: (PqRepo, DataFrame, Boolean) => Unit,
      tableRows: PqRepo => Seq[String]): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val (r0, i0) = (freshRepo(), freshRepo())
    Seq(r0, i0).foreach(build(_, base))
    val steps = stepsGen(n, kinds).apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed)).get
    var id = 100L
    val landed = ArrayBuffer(base: _*)
    steps.foreach { s =>
      val known = landed.filter(_._1.nonEmpty)
      def old(i: Int) = known((s.a + i * 7) % known.length)
      def fresh() = { id += 1; (Option(id), (s.a % dim), s.n) }
      val rows = s.kind match {
        case "fresh" => (0 to s.n).map(_ => fresh())
        // the same cluster, another vector
        case "reingest" => (0 to s.n).map(old).distinct.map { case (i, c, j) => (i, c, j + 1) }
        case "unchanged" => (0 to s.n).map(old).distinct
        // another cluster: checked ("guarded") or not
        case "changed" | "guarded" => Seq(old(0)).map { case (i, c, j) => (i, (c + 1) % dim, j) }
        case "dupId" => val f = fresh(); Seq(f, if (s.flip) f else (f._1, f._2, f._3 + 1))
        case "nullId" => Seq((None, s.a % dim, s.n))
        case _ => Seq(old(0), fresh())
      }
      val batch = vecs(rows)
      val check = s.kind != "changed"
      (Try(ref(r0, batch, check)), Try(keyed(i0, batch, check))) match {
        case (Success(_), Success(_)) => landed ++= rows
        case (Failure(_: IllegalStateException), Failure(e: IllegalStateException)) =>
          assert(e.getMessage.contains("moved clusters"), e.getMessage)
          seen += "guardFailed"
        case other => fail(s"$s: reference and append disagree: $other")
      }
      assert(tableRows(i0) == tableRows(r0), s"after $s")
      seen += s.kind
    }
    seen.toSet
  }

  private val ivfBase = (1L to 8L).map(i => (Option(i), (i % dim).toInt, 0)) :+ ((None, 1, 0))

  test("random appendToIvfIndex sequences leave the rows the copy-on-write " +
    "merge leaves") {
    val seen = vecSequence(7202L, 10, Kinds, ivfBase)(ivfIndex)(
      IndexAppendMergePlan.ivfAppend(_, _, "vec_id", "embedding", "idx", "e", _),
      Similarity.appendToIvfIndex(_, _, "vec_id", "embedding", "idx", "e", _), ivfRows)
    val wanted = Kinds :+ "guardFailed"
    assert(wanted.filterNot(seen).isEmpty, s"never reached: ${wanted.filterNot(seen)}")
  }

  /** Kinds of the vector sequences: also an unchanged re-ingest. */
  private val VecKinds = Kinds :+ "unchanged"

  private def ivfPqIndex(residual: Boolean)(repo: PqRepo, rows: Seq[(Option[Long], Int, Int)]): Unit = {
    val index = Similarity.IvfIndex(cents, Similarity.assignClusters(
      vecs(rows).select(col("vec_id").as("id"), col("embedding").as("v")), cents))
    val books =
      if (residual) Similarity.pqTrainResidual(index, m = 2, ksub = 4, kmeansIters = 2, sampleRows = 8)
      else Similarity.pqTrain(vecs(rows), "vec_id", "embedding", m = 2, ksub = 4,
        kmeansIters = 2, sampleRows = 8)
    Similarity.writeIvfPqIndex(repo, index, books, "idx", "e", residual)
  }
  private def pqRows(repo: PqRepo): Seq[String] =
    repo.table("idx", "e_ivfpq").select(col("id"), col("cluster"), to_json(col("codes")))
      .collect().map(_.toString).toSeq.sorted

  test("random appendToIvfPqIndex sequences, raw and residual, leave the rows " +
    "the copy-on-write merge leaves") {
    Seq(false, true).foreach { residual =>
      val seen = vecSequence(if (residual) 7304L else 7303L, 12, VecKinds, ivfBase)(
        ivfPqIndex(residual))(
        IndexAppendMergePlan.ivfPqAppend(_, _, "vec_id", "embedding", "idx", "e", _),
        Similarity.appendToIvfPqIndex(_, _, "vec_id", "embedding", "idx", "e", _), pqRows)
      val wanted = VecKinds :+ "guardFailed"
      assert(wanted.filterNot(seen).isEmpty,
        s"residual = $residual, never reached: ${wanted.filterNot(seen)}")
    }
  }

  private def q8Index(repo: PqRepo, rows: Seq[(Option[Long], Int, Int)]): Unit =
    Similarity.writeQuantizedIndex(repo, vecs(rows), "vec_id", "embedding", "idx", "q",
      numBuckets = 4)
  private def q8Rows(repo: PqRepo): Seq[String] =
    repo.table("idx", "q_q8").select(col("vec_id"), col("bucket"), col("qmin"), col("qmax"),
      to_json(col("codes"))).collect().map(_.toString).toSeq.sorted

  test("random appendToQuantizedIndex sequences leave the rows the copy-on-write " +
    "merge leaves") {
    // no guard: a moved vector ("changed", "guarded") is an upsert of its id
    val seen = vecSequence(7405L, 12, VecKinds, ivfBase)(q8Index)(
      (r, b, _) => IndexAppendMergePlan.q8Append(r, b, "vec_id", "embedding", "idx", "q"),
      (r, b, _) => Similarity.appendToQuantizedIndex(r, b, "vec_id", "embedding", "idx", "q"),
      q8Rows)
    assert(VecKinds.filterNot(seen).isEmpty, s"never reached: ${VecKinds.filterNot(seen)}")
  }

  test("random reassignIvfIndex sequences leave the rows the join-scoped " +
    "merge leaves") {
    // no guard: moved ids ("changed", "guarded") land once in their new cluster
    val seen = vecSequence(7506L, 12, VecKinds, ivfBase)(ivfIndex)(
      (r, b, _) => IndexAppendMergePlan.ivfReassign(r, b, "vec_id", "embedding", "idx", "e"),
      (r, b, _) => Similarity.reassignIvfIndex(r, b, "vec_id", "embedding", "idx", "e"),
      ivfRows)
    assert(VecKinds.filterNot(seen).isEmpty, s"never reached: ${VecKinds.filterNot(seen)}")
  }

  test("an all-new parquet batch appends in at most 5 jobs, and every indexed " +
    "file stays in place with its mtime") {
    val repo = freshRepo()
    MinHashIndex.write(repo, docs((1L to 20L).map(i => Some(i) -> para(i.toInt))),
      "doc_id", "text", "idx", "d", g)
    repo.write(docs((21L to 30L).map(i => Some(i) -> para(i.toInt))), "in", "batch")
    val batch = repo.table("in", "batch")
    val before = Seq("d_mhdocs", "d_mhbands").map(dataFiles(repo, _))
    val jobs = jobsOf(MinHashIndex.append(repo, batch, "doc_id", "text", "idx", "d"))
    assert(jobs <= 5, s"$jobs jobs")
    Seq("d_mhdocs", "d_mhbands").zip(before).foreach { case (t, files) =>
      val after = dataFiles(repo, t)
      files.foreach { case (p, (mtime, _)) =>
        assert(after.get(p).map(_._1).contains(mtime), s"$p rewritten") }
      assert(after.size > files.size)
    }
  }

  test("appendToIvfIndex of new ids runs at most 6 jobs and leaves every " +
    "indexed file in place") {
    val repo = freshRepo()
    ivfIndex(repo, (1L to 40L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
    val before = dataFiles(repo, "e_ivf")
    val batch = vecs((100L to 120L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
      .localCheckpoint()
    val jobs = jobsOf(Similarity.appendToIvfIndex(repo, batch, "vec_id", "embedding", "idx", "e"))
    assert(jobs <= 6, s"$jobs jobs")
    val after = dataFiles(repo, "e_ivf")
    before.foreach { case (p, (mtime, _)) =>
      assert(after.get(p).map(_._1).contains(mtime), s"$p rewritten") }
    assert(repo.table("idx", "e_ivf").count() == 61)
  }

  test("appendToIvfPqIndex of new ids runs at most 8 jobs and leaves every " +
    "indexed file in place") {
    val repo = freshRepo()
    ivfPqIndex(residual = false)(repo, (1L to 40L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
    val before = dataFiles(repo, "e_ivfpq")
    val batch = vecs((100L to 120L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
      .localCheckpoint()
    // three side-table reads, the coded batch, its keys, the probe, the write
    val jobs = jobsOf(Similarity.appendToIvfPqIndex(repo, batch, "vec_id", "embedding", "idx", "e"))
    assert(jobs <= 8, s"$jobs jobs")
    val after = dataFiles(repo, "e_ivfpq")
    before.foreach { case (p, (mtime, _)) =>
      assert(after.get(p).map(_._1).contains(mtime), s"$p rewritten") }
    assert(repo.table("idx", "e_ivfpq").count() == 61)
  }

  test("appendToQuantizedIndex of new ids runs at most 5 jobs and leaves every " +
    "indexed file in place") {
    val repo = freshRepo()
    q8Index(repo, (1L to 40L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
    val before = dataFiles(repo, "q_q8")
    val batch = vecs((100L to 120L).map(i => (Option(i), (i % dim).toInt, i.toInt)))
      .localCheckpoint()
    // the coded batch, its keys, the probe, the write
    val jobs = jobsOf(Similarity.appendToQuantizedIndex(repo, batch, "vec_id", "embedding", "idx", "q"))
    assert(jobs <= 5, s"$jobs jobs")
    val after = dataFiles(repo, "q_q8")
    before.foreach { case (p, (mtime, _)) =>
      assert(after.get(p).map(_._1).contains(mtime), s"$p rewritten") }
    assert(repo.table("idx", "q_q8").count() == 61)
  }

  test("the bytes one append writes do not grow with the index") {
    def written(corpus: Int): Long = {
      val repo = freshRepo()
      MinHashIndex.write(repo, docs((1L to corpus.toLong).map(i => Some(i) -> para(i.toInt))),
        "doc_id", "text", "idx", "d", g)
      val before = Seq("d_mhdocs", "d_mhbands").map(dataFiles(repo, _))
      MinHashIndex.append(repo, docs((1L to 8L).map(i => Some(100000L + i) -> para(7000 + i.toInt))),
        "doc_id", "text", "idx", "d")
      Seq("d_mhdocs", "d_mhbands").zip(before).map { case (t, old) =>
        dataFiles(repo, t).collect { case (p, (_, len)) if !old.contains(p) => len }.sum
      }.sum
    }
    val (small, big) = (written(30), written(300))
    assert(small > 0 && big <= 1.2 * small, s"$small bytes into the small index, $big into the big one")
  }

  test("appends into a partition fold it back into one file at the threshold") {
    val repo = freshRepo()
    val one = MinHashIndex.Geometry(shingleK = 5, numHashes = 32, bands = 8, buckets = 1)
    MinHashIndex.write(repo, docs(Seq(Some(1L) -> para(1))), "doc_id", "text", "idx", "d", one)
    val counts = (2 to PqRepo.FoldFiles + 1).map { i =>
      MinHashIndex.append(repo, docs(Seq(Some(i.toLong) -> para(i))), "doc_id", "text", "idx", "d")
      filesPer(repo, "d_mhdocs")("dbucket=0")
    }
    // each append adds one file until the partition holds FoldFiles; the
    // next one rewrites it
    assert(counts == (2 to PqRepo.FoldFiles).map(identity) :+ 1)
    val all = freshRepo()
    MinHashIndex.write(all, docs((1 to PqRepo.FoldFiles + 1).map(i => Some(i.toLong) -> para(i))),
      "doc_id", "text", "idx", "d", one)
    assert(mhRows(repo) == mhRows(all))
  }
}

object IndexAppendSpec {
  final case class Step(kind: String, a: Int, n: Int, flip: Boolean)

  val Kinds = Seq("fresh", "reingest", "changed", "guarded", "dupId", "nullId", "mixed")

  private def step(kind: String): Gen[Step] = for {
    a <- Gen.choose(0, 999)
    n <- Gen.choose(0, 2)
    flip <- Gen.oneOf(true, false)
  } yield Step(kind, a, n, flip)

  /** `n` steps: every kind once, the rest mostly fresh, in random order. */
  def stepsGen(n: Int, kinds: Seq[String] = Kinds): Gen[Seq[Step]] = for {
    each <- Gen.sequence[Seq[Step], Step](kinds.map(step))
    extra <- Gen.listOfN(n - kinds.length,
      Gen.frequency(3 -> "fresh", 1 -> "reingest", 1 -> "mixed").flatMap(step))
    keys <- Gen.listOfN(n, Gen.choose(0, 1 << 20))
  } yield (each ++ extra).zip(keys).sortBy(_._2).map(_._1)
}
