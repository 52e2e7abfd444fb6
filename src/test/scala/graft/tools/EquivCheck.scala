package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScalePolicy
import graft.operators.Dedup

/** r21 equivalence audit: proves on the SCALE corpora (20×/100×) that the
  * restructured exact-only paths return row-identical results to the
  * r20 implementations they replaced —
  *   1. dedup_keep_best's digest fast path ≡ the pairs+components loop
  *      (reconstructed inline from the same public pieces r20 composed);
  *   2. dropNearDuplicates' verified digest losers ≡ the byte-exact
  *      exactGroups losers (regime forced both ways).
  * Test-scoped tool, not shipped. */
object EquivCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_big20x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.TextFunctions

    def idsOf(df: DataFrame, c: String): Array[Long] =
      df.select(col(c).cast("long")).collect().map(_.getLong(0)).sorted

    // ---- 1. keep_best: fast path vs reconstructed r20 loop path ----
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val shadow = base.filter(col("doc_id") < 40)
      .select((col("doc_id") - 4000000L).as("doc_id"),
        regexp_replace(col("text"), lit(" "), lit("  ")).as("text"))
    val copies = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    val docs = base.unionByName(shadow).unionByName(copies)
      .withColumn("norm", TextFunctions.normalizeText(col("text")))
      .withColumn("quality",
        round(TextFunctions.qualityScore(col("text")), 6))

    val fastIds = idsOf(Dedup.dropNearDuplicatesKeepBest(docs, "doc_id",
      "norm", "quality", threshold = 1.0, verifyExact = true)._1, "doc_id")

    // the r20 loop path, reconstructed verbatim from its building blocks
    val pairs = Dedup.minhashPairsVerified(docs, "doc_id", "norm",
      shingleK = 5, numHashes = 64, bands = 16, threshold = 1.0)
    val (labels, _) = Dedup.componentsWithStats(pairs)
    val members = labels.join(
      docs.select(col("doc_id").as("id"),
        coalesce(col("quality").cast("double"),
          lit(Double.NegativeInfinity)).as("__s")), Seq("id"))
    val best = members.groupBy("label").agg(max(col("__s")).as("__best"))
    val winners = members.join(best, Seq("label"))
      .filter(col("__s") === col("__best"))
      .groupBy("label").agg(min(col("id")).as("__winner"))
    val losers = members.join(winners, Seq("label"))
      .filter(col("id") =!= col("__winner"))
      .select(col("id").as("__loser"))
    val loopIds = idsOf(
      docs.join(losers, docs("doc_id") === col("__loser"), "left_anti"),
      "doc_id")

    require(java.util.Arrays.equals(fastIds, loopIds),
      s"keep_best diverged: fast=${fastIds.length} loop=${loopIds.length}")
    println(s"[equiv] keep_best OK: ${fastIds.length} survivors identical")

    // ---- 2. dedup_drop: digest losers vs byte-exact exactGroups ----
    val d = base
    val dup = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val in = d.unionByName(dup)
    def dropWith(small: Boolean): Array[Long] = idsOf(
      ScalePolicy.forcing(small)(Dedup.dropNearDuplicatesWithStats(in,
        "doc_id", "text", numHashes = 48, bands = 12, threshold = 1.0,
        verifyExact = true))._1, "doc_id")
    val dig = dropWith(small = false)
    val bytes = dropWith(small = true)
    require(java.util.Arrays.equals(dig, bytes),
      s"dedup_drop diverged: digest=${dig.length} byte=${bytes.length}")
    println(s"[equiv] dedup_drop OK: ${dig.length} survivors identical")
    spark.stop()
  }
}
