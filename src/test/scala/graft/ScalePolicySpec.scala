package graft

import org.apache.spark.sql.DataFrame

/** Every regime gate on both sides of its real threshold, and the
  * [[ScalePolicy.forcing]] scope overriding each decision. A
  * `spark.range(n)` frame estimates exactly 8·n bytes, so the byte gates
  * are probed at their exact boundary without building any data; only
  * the edge gate counts its (1M-row) frame. */
class ScalePolicySpec extends SparkSpec {

  /** A frame whose plan estimate is exactly `bytes` (a multiple of 8). */
  private def estimating(bytes: Long): DataFrame = {
    require(bytes % 8 == 0)
    val df = spark.range(bytes / 8).toDF()
    assert(ScalePolicy.estimateBytes(df) == BigInt(bytes))
    df
  }

  private val byteGates = Seq(
    "DigestBytes" -> (ScalePolicy.DigestBytes, 1L << 20),
    "DenseFanOutBytes" -> (ScalePolicy.DenseFanOutBytes, 4L << 20))

  for ((name, (gate, expected)) <- byteGates)
    test(s"$name: small at its threshold, scale one row above; forcing overrides") {
      assert(gate == expected)
      val at = estimating(gate)
      val above = estimating(gate + 8)
      assert(ScalePolicy.isSmall(at, gate))
      assert(!ScalePolicy.isSmall(above, gate))
      assert(ScalePolicy.forcing(small = true)(ScalePolicy.isSmall(above, gate)))
      assert(!ScalePolicy.forcing(small = false)(ScalePolicy.isSmall(at, gate)))
      // the scope ends with its body
      assert(!ScalePolicy.isSmall(above, gate))
    }

  test("DriverGraphEdges: driver at 1,000,000 edges, loop one edge above; " +
    "forcing overrides") {
    assert(ScalePolicy.DriverGraphEdges == 1000000L)
    val at = spark.range(ScalePolicy.DriverGraphEdges).toDF()
    val above = spark.range(ScalePolicy.DriverGraphEdges + 1).toDF()
    assert(ScalePolicy.driverGraph(at))
    assert(!ScalePolicy.driverGraph(above))
    assert(ScalePolicy.forcing(small = true)(ScalePolicy.driverGraph(above)))
    assert(!ScalePolicy.forcing(small = false)(ScalePolicy.driverGraph(at)))
  }

  test("joinSide hints shuffle_hash only in the scale regime; Par threads " +
    "inherit a forced regime") {
    val df = spark.range(10).toDF()
    assert(ScalePolicy.joinSide(small = true)(df) eq df)
    val hinted = ScalePolicy.joinSide(small = false)(df)
    assert(hinted.queryExecution.logical.toString.contains("shuffle_hash"))
    val tiny = estimating(8)
    val (a, b) = ScalePolicy.forcing(small = false)(Par.run2(
      ScalePolicy.isSmall(tiny, ScalePolicy.DigestBytes),
      ScalePolicy.isSmall(tiny, ScalePolicy.DigestBytes)))
    assert(!a && !b)
  }

  test("plannedPartitions starts no job: an exchanged frame reads its " +
    "pre-coalesce partitioning, a plain scan its split count") {
    import org.apache.spark.sql.functions.col
    val shuffle = spark.sessionState.conf.numShufflePartitions
    val exchanged = spark.range(100).toDF().repartition(col("id"))
    val explicit = spark.range(100).toDF().repartition(7, col("id"))
    val aggregated = spark.range(100).toDF().groupBy(col("id") % 3).count()
    val dir = java.nio.file.Files.createTempDirectory("planned").resolve("t").toString
    spark.range(0, 30, 1, 3).write.parquet(dir)
    val scan = spark.read.parquet(dir).filter(col("id") > 2)
    val range = spark.range(0, 30, 1, 3).toDF()
    for ((df, expected) <- Seq(exchanged -> shuffle, explicit -> 7,
        aggregated -> shuffle, scan -> scan.rdd.getNumPartitions, range -> 3)) {
      var planned = -1
      assert(jobsOf { planned = ScalePolicy.plannedPartitions(df) } == 0, df.queryExecution)
      assert(planned == expected, df.queryExecution)
    }
  }
}
