package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{ScalePolicy, SparkSpec}
import graft.functions.{TextFunctions, VectorFunctions}

/** Every fast path against the path it replaced, on small seeded corpora:
  *   1. keep-best at threshold 1.0 (the equal-content shortcut) against
  *      the pairs → components → best-per-component loop;
  *   2. the digest-verified losers of an exact-only drop against the
  *      byte-exact ones, with [[ScalePolicy.forcing]] both ways;
  *   3. [[Dedup.fanOutDense]] on against off, under the brute-force
  *      cosine top-k;
  *   4. the BoundedTopK aggregate against the rank window it replaced;
  *   5. [[Dedup.componentsWithStats]]' single-pass edges against the
  *      union-built ones ([[ComponentsUnionPlan]]), in both regimes. */
class EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** `gen` at `n` seeds derived from `seed`. */
  private def forAll[A](gen: Gen[A], n: Int = 4, seed: Long = 7L)(f: A => Unit): Unit =
    Iterator.iterate(Seed(seed))(_.next).take(n).foreach(s =>
      gen.apply(Gen.Parameters.default, s).foreach(f))

  private def idsOf(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSeq.sorted

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")

  /** (id, text, quality): texts drawn from a small pool so equal content
    * repeats, some of them with doubled spaces (equal after
    * normalization), qualities with ties. */
  private val corpus: Gen[Seq[(Long, String, Int)]] = for {
    pool <- Gen.listOfN(6, Gen.listOfN(8, word).map(_.mkString(" ")))
    n <- Gen.choose(8, 24)
    rows <- Gen.listOfN(n, for {
      t <- Gen.oneOf(pool)
      spaced <- Gen.oneOf(true, false)
      q <- Gen.choose(0, 3)
    } yield (if (spaced) t.replace(" ", "  ") else t, q))
  } yield rows.zipWithIndex.map { case ((t, q), i) => (i.toLong * 3 + 1, t, q) }

  test("keep-best at threshold 1.0 keeps exactly the pairs path's survivors") {
    forAll(corpus) { rows =>
      val docs = rows.toDF("doc_id", "text", "quality")
        .withColumn("norm", TextFunctions.normalizeText(col("text")))
      val fast = idsOf(Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", "norm",
        "quality", threshold = 1.0, verifyExact = true)._1, "doc_id")
      val pairs = Dedup.minhashPairsVerified(docs, "doc_id", "norm",
        shingleK = 5, numHashes = 64, bands = 16, threshold = 1.0)
      val members = Dedup.componentsWithStats(pairs)._1.join(
        docs.select(col("doc_id").as("id"), col("quality").cast("double").as("__s")), Seq("id"))
      val best = members.groupBy("label").agg(max(col("__s")).as("__best"))
      val winners = members.join(best, Seq("label"))
        .filter(col("__s") === col("__best"))
        .groupBy("label").agg(min(col("id")).as("__winner"))
      val losers = members.join(winners, Seq("label"))
        .filter(col("id") =!= col("__winner")).select(col("id").as("__loser"))
      val loop = idsOf(docs.join(losers, docs("doc_id") === col("__loser"), "left_anti"),
        "doc_id")
      assert(fast == loop, rows)
    }
  }

  test("an exact-only drop loses the same rows with digest and byte-exact " +
    "verification") {
    forAll(corpus) { rows =>
      val docs = rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
      def drop(small: Boolean) = ScalePolicy.forcing(small)(idsOf(
        Dedup.dropNearDuplicatesWithStats(docs, "doc_id", "text", numHashes = 48,
          bands = 12, threshold = 1.0, verifyExact = true)._1, "doc_id"))
      val bytes = drop(small = true)
      assert(drop(small = false) == bytes, rows)
      assert(bytes.length == rows.map(_._2).distinct.length)
    }
  }

  private val vectors: Gen[Seq[(Long, Seq[Float])]] = for {
    n <- Gen.choose(12, 40)
    vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat)))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  test("the brute-force top-k is the same with fanOutDense on and off") {
    forAll(vectors) { vs =>
      val dir = java.nio.file.Files.createTempDirectory("fanout").resolve("c").toString
      // one file, one task: the input fanOutDense spreads when it is on
      vs.toDF("id", "v").coalesce(1).write.parquet(dir)
      val corpus = spark.read.parquet(dir)
      val queries = corpus.filter(col("id") % 5 === 0)
      def topK(small: Boolean) = ScalePolicy.forcing(small)(
        Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 3)
          .collect().map(_.toString).toSeq.sorted)
      assert(topK(small = false) == topK(small = true), vs)
    }
  }

  private val scored: Gen[(Seq[(Long, Long, Option[Double])], Int)] = for {
    n <- Gen.choose(1, 300)
    rows <- Gen.listOfN(n, for {
      g <- Gen.choose(0L, 5L)
      id <- Gen.choose(0L, 1000L)
      s <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(-3, 3).map(x => Some(x / 2.0)))
    } yield (g, id, s))
    k <- Gen.choose(1, 12)
  } yield (rows.distinctBy(r => (r._1, r._2)), k)

  test("BoundedTopK keeps exactly the rank window's rows") {
    forAll(scored, n = 12) { case (rows, k) =>
      val df = rows.toDF("g", "id", "s").repartition(3)
      val window = df
        .withColumn("rank", row_number().over(
          Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)))
        .filter(col("rank") <= k)
      val agg = df.groupBy("g")
        .agg(VectorFunctions.boundedTopK(col("s"), col("id"), k).as("t"))
        .select(col("g"), posexplode(col("t")).as(Seq("p", "e")))
        .select(col("g"), col("e.id").as("id"), col("e.score").as("s"),
          (col("p") + 1).as("rank"))
      def canon(d: DataFrame) =
        d.select("g", "id", "s", "rank").collect().map(_.toString).toSeq.sorted
      assert(canon(agg) == canon(window), (rows, k))
    }
  }

  /** Pairs over a dozen ids: repeats, self-pairs and null endpoints. */
  private val edgePairs: Gen[Seq[(Option[Int], Option[Int])]] = {
    val end = Gen.frequency(1 -> Gen.const(None), 8 -> Gen.choose(0, 11).map(Some(_)))
    for {
      n <- Gen.choose(0, 24)
      ps <- Gen.listOfN(n, Gen.zip(end, end))
      dups <- Gen.someOf(ps)
    } yield ps ++ dups
  }

  test("componentsWithStats labels equal the union-built edges' in both " +
    "regimes, for long, int and string ids") {
    def ids[T](f: Int => T)(ps: Seq[(Option[Int], Option[Int])]) =
      ps.map { case (a, b) => (a.map(f), b.map(f)) }
    val typed: Seq[(String, Seq[(Option[Int], Option[Int])] => DataFrame)] = Seq(
      "long" -> (ps => ids(_.toLong * 7919L)(ps).toDF("id_a", "id_b")),
      "int" -> (ps => ps.toDF("id_a", "id_b")),
      "string" -> (ps => ids(i => s"d$i")(ps).toDF("id_a", "id_b")))
    for ((kind, frame) <- typed; small <- Seq(true, false))
      forAll(edgePairs, seed = 11L) { ps =>
        val pairs = frame(ps)
        def canon(r: (DataFrame, Dedup.ComponentsStats)) =
          (r._1.collect().map(_.toString).toSeq.sorted, r._2)
        val (single, reference) = ScalePolicy.forcing(small)((
          canon(Dedup.componentsWithStats(pairs, maxIters = 20)),
          canon(ComponentsUnionPlan.componentsWithStats(pairs, maxIters = 20))))
        assert(single == reference, (kind, small, ps))
      }
  }
}
