package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object RebalReceipt {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val repo = graft.sources.PqRepo(s,
      java.nio.file.Files.createTempDirectory("graft_receipt").toString)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val df = s.range(0, 100000, 1, 8)
      .select((col("id") % 16).cast("int").as("bucket"), col("id"),
        concat_ws("-", Seq.fill(8)(col("id")): _*).as("payload"))
    repo.write(df, "lake", "receipt", partitionCols = Seq("bucket"))
    val deadline = System.nanoTime() + 10_000_000_000L
    while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val all = plans.toArray(Array.empty[String]).mkString("\n\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("plans/r21/writepartitioned_rebalance_after.txt"),
      ("== partitioned write executed plan (r21: AQE rebalance on the partition columns; " +
       "r20 shape was a plain 'Exchange hashpartitioning(bucket, n), REPARTITION_BY_COL') ==\n\n" + all)
        .getBytes("UTF-8"))
    println("[receipt] " + (if (all.contains("REBALANCE_PARTITIONS_BY_COL")) "REBALANCE_PARTITIONS_BY_COL present" else "MISSING"))
    s.stop()
  }
}
