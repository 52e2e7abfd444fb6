package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch stage-level profiler for the sf0.1 dedup rows: attributes
  * dedup_minhash/simhash wall time across the pipeline's actions (sig
  * kernel + materialization, collapse probe, banding, verification gate
  * count, verification join) so the fixed-cost hunt lands where the
  * seconds are. Test-scoped tool, not shipped. */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators._

    def timeU(label: String)(body: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[prof] $label%-34s ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }
    def time(label: String)(mk: => DataFrame): Unit =
      timeU(label)(mk.write.format("noop").mode("overwrite").save())

    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val dup = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val u = d.unionByName(dup)

    timeU("count-probe(u.doc_id)") { u.select(col("doc_id")).count() }
    time("sig-kernel(no ckpt)") {
      u.select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.MinHashSignature(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
            5, 48)).as("sig"))
    }
    time("minhashPairs(all-in)") {
      Dedup.minhashPairs(u, "doc_id", "text",
        shingleK = 5, numHashes = 48, bands = 12, threshold = 1.0)
    }
    timeU("full dedup_minhash (lazy bytes)") {
      val cand = Dedup.minhashPairs(u, "doc_id", "text",
        shingleK = 5, numHashes = 48, bands = 12, threshold = 1.0)
      Dedup.verifyPairsExact(cand, u, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    timeU("full dedup_minhash (digest)") {
      val cand = Dedup.minhashPairs(u, "doc_id", "text",
        shingleK = 5, numHashes = 48, bands = 12, threshold = 1.0)
      graft.ScalePolicy.forcing(small = false)(
        Dedup.verifyPairsExact(cand, u, "doc_id", "text"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
