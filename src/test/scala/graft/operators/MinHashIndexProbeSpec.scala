package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.sources.PqRepo

/** Property: the driver probe of [[MinHashIndex.dropNearKnown]] keeps
  * exactly the rows the join plan it replaced keeps
  * ([[MinHashIndexJoinPlan]]), at thresholds 1.0, 0.8 and 0.5, over
  * generated corpora and batches that mix exact copies, near edits of
  * graded distance, fresh and null texts, sub-shingle texts, copies
  * inside the batch, reused ids with different texts, null ids, Long and
  * String ids, empty batches and batches with no hits. */
class MinHashIndexProbeSpec extends SparkSpec {
  import MinHashIndexProbeSpec._

  private val g = MinHashIndex.Geometry(
    shingleK = 5, numHashes = 32, bands = 8, buckets = 4)

  /** Seed-prefixed vocabulary: paragraphs of different seeds share no
    * words. */
  private def para(seed: Int, words: Int = 40): String =
    (0 until words).map(i => s"s${seed}w${(i * 7 + seed) % 53}").mkString(" ")

  /** `text` with `k` of its words replaced: a near edit whose Jaccard
    * falls as `k` grows. */
  private def edit(text: String, k: Int, salt: Int): String = {
    val ws = text.split(" ")
    (0 until k).foreach(j => ws((salt + j * 13) % ws.length) = s"e${salt}x$j")
    ws.mkString(" ")
  }

  private val Kinds = Seq("exact", "near", "fresh", "nullText", "short",
    "copy", "dupId", "nullId", "idPair")

  private def op(kind: String): Gen[Op] = for {
    a <- Gen.choose(0, 999)
    k <- Gen.choose(1, 12)
    flip <- Gen.oneOf(true, false)
  } yield Op(kind, a, k, flip)

  /** Every kind once plus up to four more, in random order. */
  private val mixedOps: Gen[Seq[Op]] = for {
    each <- Gen.sequence[Seq[Op], Op](Kinds.map(op))
    extra <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf(Kinds).flatMap(op)))
    keys <- Gen.listOfN(each.length + extra.length, Gen.choose(0, 1 << 20))
  } yield (each ++ extra).zip(keys).sortBy(_._2).map(_._1)

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(3, 6)
    seeds <- Gen.pick(n, 1 to 30)
  } yield (seeds.map(para(_)) ++ Seq("abc", null)).zipWithIndex
    .map { case (t, i) => (i + 1L, t) }.toSeq

  /** Interpret the ops in order: copies and reused ids refer to rows
    * generated before them. */
  private def batchOf(corpus: Seq[(Long, String)], ops: Seq[Op]) = {
    val texts = corpus.map(_._2).filter(_ != null).toIndexedSeq
    val out = ArrayBuffer.empty[(Option[Long], String)]
    var next = 100L
    def id(): Option[Long] = { next += 1; Some(next) }
    def text(o: Op) = texts(o.a % texts.length)
    ops.foreach { o =>
      o.kind match {
        case "exact" => out += id() -> text(o)
        case "near" => out += id() -> edit(text(o), o.k, o.a)
        case "fresh" => out += id() -> para(100 + o.a)
        case "nullText" => out += id() -> null
        case "short" => out += id() -> (if (o.flip) "abc" else "ab")
        case "copy" if out.nonEmpty => out += id() -> out(o.a % out.length)._2
        case "dupId" if out.exists(_._1.nonEmpty) =>
          val ids = out.flatMap(_._1)
          out += Some(ids(o.a % ids.length)) ->
            (if (o.flip) edit(text(o), o.k, o.a) else para(100 + o.a))
        case "nullId" => out += None -> (if (o.flip) text(o) else edit(text(o), 2, o.a))
        case "idPair" =>
          // one id, a fresh text and a close edit: only the edit's own
          // signature finds the corpus doc
          val i = id()
          val pair = Seq(i -> para(100 + o.a), i -> edit(text(o), 1 + o.k % 3, o.a))
          out ++= (if (o.flip) pair.reverse else pair)
        case _ => out += id() -> para(100 + o.a)
      }
    }
    out.toSeq
  }

  private val caseGen: Gen[(Case, String)] = for {
    corpus <- corpusGen
    shape <- Gen.frequency(1 -> "empty", 1 -> "noHits", 6 -> "mixed")
    ops <- shape match {
      case "empty" => Gen.const(Nil)
      case "noHits" => Gen.choose(1, 4).flatMap(Gen.listOfN(_, op("fresh")))
      case _ => mixedOps
    }
    stringIds <- Gen.oneOf(true, false)
    parquet <- Gen.oneOf(true, false)
  } yield (Case(corpus, batchOf(corpus, ops), stringIds, parquet), shape)

  private def frame(rows: Seq[(Option[Long], String)], prefix: String,
      stringIds: Boolean): DataFrame = {
    val idType = if (stringIds) StringType else LongType
    val schema = StructType(Seq(
      StructField("doc_id", idType), StructField("text", StringType)))
    val data = rows.map { case (id, t) =>
      Row(id.map(i => if (stringIds) s"$prefix$i" else i).orNull, t)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def kept(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq.sorted

  /** Whether the near path dropped more than the digests did. */
  private def check(c: Case): Boolean = {
    val repo = PqRepo(spark, java.nio.file.Files
      .createTempDirectory("mh_probe_spec").toString)
    MinHashIndex.write(repo, frame(c.corpus.map { case (i, t) => Some(i) -> t }, "c",
      c.stringIds), "doc_id", "text", "idx", "d", g)
    val local = frame(c.batch, "b", c.stringIds)
    val batch =
      if (!c.parquetBatch) local
      else { repo.write(local, "in", "batch"); repo.table("in", "batch") }
    val byThreshold = Seq(1.0, 0.8, 0.5).map { t =>
      val probe = kept(MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
        "idx", "d", t))
      val joined = kept(MinHashIndexJoinPlan.dropNearKnown(repo, batch,
        "doc_id", "text", "idx", "d", t))
      assert(probe == joined, s"threshold $t, $c")
      probe
    }
    byThreshold.distinct.length > 1
  }

  test("the driver probe keeps exactly the rows the join plan keeps") {
    val seen = ArrayBuffer.empty[String]
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(5101L)
    (0 until 12).foreach { _ =>
      caseGen(params, seed).foreach { case (c, shape) =>
        if (check(c)) seen += "nearDrops"
        seen += shape
        if (c.stringIds) seen += "stringIds"
        if (c.parquetBatch) seen += "parquetBatch"
      }
      seed = seed.next
    }
    // the fixed seed must reach every case the property is about
    val wanted = Seq("empty", "noHits", "mixed", "stringIds", "parquetBatch",
      "nearDrops")
    assert(wanted.filterNot(seen.contains).isEmpty,
      s"cases never generated: ${wanted.filterNot(seen.contains)}")
  }
}

object MinHashIndexProbeSpec {
  private final case class Op(kind: String, a: Int, k: Int, flip: Boolean)

  private final case class Case(
      corpus: Seq[(Long, String)],
      batch: Seq[(Option[Long], String)],
      stringIds: Boolean,
      parquetBatch: Boolean)
}
