package graft.sources

import org.apache.spark.sql.functions._

/** The r21 scale-safety contract of partitioned [[PqRepo.write]] /
  * `mergeIntoPartitions` clustering (verdict #1): the pre-write shuffle
  * is an AQE REBALANCE on the partition columns, not a plain
  * `repartition(partitionCols)` — so write parallelism is NOT capped at
  * the number of distinct partition values, and a hot partition value is
  * split across several bounded tasks instead of funneling through one
  * straggler. The small-file property the r20 clustering bought is
  * retained: a small partition value still lands as ONE file in its
  * directory. */
class RebalancedWriteSpec extends graft.SparkSpec {

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("partitioned write clusters via an AQE rebalance (plan receipt) " +
    "and splits a hot partition value across >1 task") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_rebal").toString)
    // hot value: ~40k rows with a fat payload from 8 input splits (the
    // skew split works on map-output chunks, so >1 map task is required
    // for a split to be possible); cold values: a handful of rows each
    val hot = spark.range(0, 40000, 1, 8)
      .select(lit("hot").as("part"), col("id"),
        concat_ws("-", Seq.fill(20)(col("id")): _*).as("payload"))
    val cold = spark.range(0, 6, 1, 2)
      .select(concat(lit("c"), col("id")).as("part"), col("id"),
        col("id").cast("string").as("payload"))
    val df = hot.unionByName(cold)
    // capture the write job's executed plan: the rebalance shows up as a
    // REBALANCE_PARTITIONS_BY_COL shuffle origin in the Exchange node
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      withConf(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "262144",
        "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled" ->
          "true") {
        repo.write(df, "lake", "rebal", partitionCols = Seq("part"))
      }
      // the execution listener fires asynchronously; poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val all = plans.toArray(Array.empty[String]).mkString("\n")
      assert(all.contains("REBALANCE_PARTITIONS_BY_COL"),
        s"no rebalance shuffle origin in the write plans:\n${all.take(4000)}")
    } finally spark.listenerManager.unregister(listener)
    val dest = new java.io.File(
      repo.tablePath("lake", "rebal").toUri.getPath)
    val hotFiles = dataFiles(new java.io.File(dest, "part=hot"))
    assert(hotFiles.length > 1,
      s"hot partition value wrote ${hotFiles.length} file(s) — the skew " +
        "split did not engage, write parallelism is capped at one task " +
        "per value")
    // cold values keep the one-file-per-directory small-files property
    for (i <- 0 until 6) {
      val d = new java.io.File(dest, s"part=c$i")
      assert(dataFiles(d).length == 1,
        s"cold partition c$i fragmented: ${dataFiles(d).length} files")
    }
    // and the table reads back intact
    assert(repo.table("lake", "rebal").count() == 40006L)
  }

  test("partition-scoped merge keeps the rebalanced clustering: touched " +
    "directories come back unfragmented") {
    val repo = PqRepo(spark,
      java.nio.file.Files.createTempDirectory("graft_rebal_m").toString)
    val base = spark.range(0, 100)
      .select((col("id") % 4).cast("int").as("b"), col("id"),
        col("id").cast("string").as("v"))
    repo.write(base, "lake", "m", partitionCols = Seq("b"))
    val updates = spark.range(200, 260).repartition(4)
      .select((col("id") % 2).cast("int").as("b"), col("id"),
        col("id").cast("string").as("v"))
    repo.merge(updates, "lake", "m",
      keys = Seq("id", "b"), partitionCols = Seq("b"))
    val dest = new java.io.File(repo.tablePath("lake", "m").toUri.getPath)
    for (b <- 0 until 2) {
      val d = new java.io.File(dest, s"b=$b")
      assert(dataFiles(d).length == 1,
        s"merged partition b=$b fragmented: ${dataFiles(d).length} files")
    }
    assert(repo.table("lake", "m").count() == 160L)
  }
}
