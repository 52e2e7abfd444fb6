package graft.operators

import org.apache.spark.sql.functions._

import graft.{ScalePolicy, SparkSpec}

/** The driver-side exact components solver at its
  * `ScalePolicy.DriverGraphEdges`-scale ceiling (forced past it here): 875k pairs (1.75M directed edges after doubling) over 1M
  * nodes must solve exactly through the primitive path — typed tuple
  * collect + open-addressed index + primitive union-find, no boxed Rows.
  * Driver memory measured on this graph: 243 MB retained post-GC across
  * the call (dominated by the returned 1M-row LocalRelation), documented
  * at [[Dedup.driverComponentsPrimitive]]. */
class DriverComponentsScaleSpec extends SparkSpec {

  import spark.implicits._

  test("1M-edge chain graph solves exactly on the driver, zero iterations") {
    // 1M nodes in chains of 8: pairs (i, i+1) except across chain ends
    val pairs = spark.range(1000000L)
      .filter(col("id") % 8 =!= 7)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val rt = Runtime.getRuntime
    rt.gc()
    val heapBefore = rt.totalMemory() - rt.freeMemory()
    val (labels, stats) = ScalePolicy.forcing(small = true)(
      Dedup.componentsWithStats(pairs))
    rt.gc() // measure RETAINED memory (the result), not transient garbage
    val heapAfter = rt.totalMemory() - rt.freeMemory()
    info(f"driver heap retained across solve: ${(heapAfter - heapBefore) / 1e6}%.0f MB")
    assert(stats.iterations == 0 && stats.converged)
    val wrong = labels
      .filter(col("label") =!= (col("id") - (col("id") % 8)))
      .count()
    assert(wrong == 0)
    assert(labels.count() == 1000000L)
  }

  test("primitive path agrees with the distributed loop on a random graph") {
    val pairs = spark.range(3000L)
      .select((xxhash64(col("id")) % 500).as("id_a"),
        (xxhash64(col("id") + 7) % 500).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .cache()
    try {
      def labels(small: Boolean) = ScalePolicy.forcing(small)(
        Dedup.componentsWithStats(pairs, maxIters = 50))
        ._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaDriver = labels(small = true)
      val viaLoop = labels(small = false)
      assert(viaDriver == viaLoop)
    } finally pairs.unpersist()
  }

  test("int ids keep their type; a null endpoint leaves an isolated node") {
    val pairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    def driver(p: org.apache.spark.sql.DataFrame) =
      ScalePolicy.forcing(small = true)(Dedup.componentsWithStats(p))._1
    val labels = driver(pairs)
    assert(labels.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val m = labels.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(m == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))

    val withNull = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]))
      .toDF("id_a", "id_b")
    val m2 = driver(withNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L))
  }
}
