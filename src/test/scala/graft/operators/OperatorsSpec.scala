package graft.operators

import org.apache.spark.sql.functions._
import graft.{ScalePolicy, SparkSpec}
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact keeps the first row per key under the given order") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val out = Dedup.exact(df, Seq("k"), Seq(col("id"))).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "x"), (3L, "y")))
  }

  test("exactGroups groups by content hash and verifies content") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "c")
    val groups = Dedup.exactGroups(df, col("id"), col("c")).collect()
    assert(groups.length == 2)
    val ns = groups.map(_.getAs[Long]("n")).sorted
    assert(ns.toSeq == Seq(1L, 2L))
  }

  test("exactGroups: broadcast-restricted and direct-grouping modes agree") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(100)
    val dups = docs.select((col("doc_id") + 500).as("doc_id"), col("text"))
    val u = docs.unionByName(dups)
    def canon(broadcastMode: Option[Boolean]) =
      Dedup.exactGroups(u, col("doc_id"), col("text"), broadcastMode)
        .collect().map(r => (r.getAs[Seq[Long]]("ids").mkString(","),
          r.getAs[Long]("n"))).toSet
    assert(canon(Some(true)) == canon(Some(false)))
    assert(canon(Some(true)) == canon(None))
    assert(canon(Some(true)).nonEmpty)
  }

  test("exactGroups transports agree on null-id rows in colliding groups") {
    // the broadcast restriction joins on the colliding HASH: an
    // id-equality semi-join could never retain a null-id row, making `n`
    // transport-dependent
    val df = Seq((Option(1L), "x"), (Option.empty[Long], "x"),
      (Option(3L), "y")).toDF("id", "c")
    def canon(mode: Option[Boolean]) =
      Dedup.exactGroups(df, col("id"), col("c"), mode).collect()
        .map(r => (r.getAs[Seq[Long]]("ids").mkString(","),
          r.getAs[Long]("n"))).toSet
    val direct = canon(Some(false))
    assert(direct == canon(Some(true)))
    assert(direct.contains(("1", 2L)), // ids drop the null, n counts it
      direct.toString)
  }

  test("exactGroups auto transport: broadcast when colliding mass is small, " +
    "direct grouping when it would blow the driver") {
    // the broadcast-restricted plan contains a join (the left_semi id
    // restriction); the direct plan is a single (h, content) grouping with
    // no join at all — the chosen path is visible in the optimized plan
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(200)
    val dups = docs.select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val u = docs.unionByName(dups)
    // default threshold (10 MB): 400 colliding ids easily fit -> broadcast
    assert(hasJoin(Dedup.exactGroups(u, col("doc_id"), col("text"))),
      "small colliding mass must auto-select the broadcast-restricted path")
    // crank the threshold down below 400 ids' worth: must fall back to the
    // direct grouping, and still produce the same answer
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      val auto = Dedup.exactGroups(u, col("doc_id"), col("text"))
      assert(!hasJoin(auto),
        "oversized colliding mass must auto-select the direct grouping")
      val canonAuto = auto.collect()
        .map(r => (r.getAs[Seq[Long]]("ids").mkString(","), r.getAs[Long]("n")))
        .toSet
      val canonBcast =
        Dedup.exactGroups(u, col("doc_id"), col("text"), Some(true)).collect()
          .map(r => (r.getAs[Seq[Long]]("ids").mkString(","), r.getAs[Long]("n")))
          .toSet
      assert(canonAuto == canonBcast)
    } finally spark.conf.set(key, prev)
  }

  test("simhashPairs star fallback past maxEqualGroup keeps connectivity") {
    val docs = (0 until 12).map(i => (i.toLong, "identical content here"))
      .toDF("doc_id", "text")
    // all-pairs would be 66; the salted fallback emits a spanning TREE of
    // the group (per-salt stars + a chain through the min: 11 edges)
    // forcing the scale regime: this spec pins the salted fallback
    // itself, which the small-corpus regime skips by design
    val pairs = ScalePolicy.forcing(small = false)(Dedup.simhashPairs(
      docs, "doc_id", "text", maxHamming = 0, maxEqualGroup = 5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 11, pairs.toString)
    assert(pairs.forall { case (a, b) => a < b && b < 12L })
    // every member still lands in one component with the same minimum
    val labels = Dedup.components(
      docs.sparkSession.createDataFrame(
        pairs.toSeq.map(p => (p._1, p._2))).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 12).forall(i => labels(i.toLong) == 0L))
  }

  test("components surfaces convergence telemetry and can fail loudly on " +
    "a chain longer than the iteration budget") {
    // a 12-node path: min-label propagation moves one hop per round, so
    // 3 rounds cannot converge — exactly the silent under-merge a 100 TB
    // run must be able to detect. The scale regime forces the
    // distributed loop (the driver fast path has no iteration cap).
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def loop[T](body: => T): T = ScalePolicy.forcing(small = false)(body)
    val (labels, stats) = loop(Dedup.componentsWithStats(chain, maxIters = 3))
    assert(!stats.converged && stats.iterations == 3, stats.toString)
    assert(labels.filter($"label" =!= 0L).count() > 0) // provably under-merged
    val e = intercept[IllegalStateException] {
      loop(Dedup.components(chain, maxIters = 3, failOnNonConvergence = true))
    }
    assert(e.getMessage.contains("maxIters=3"))
    // with budget to spare the stats say so: converged before the cap
    val (done, okStats) = loop(Dedup.componentsWithStats(chain, maxIters = 20))
    assert(okStats.converged && okStats.iterations < 20, okStats.toString)
    assert(done.collect().forall(_.getLong(1) == 0L))
  }

  test("driver-side components equal the distributed loop on chains, " +
    "cliques, and string ids; the auto path engages below the limit") {
    // long chain (worst case for propagation), two cliques, an isolated
    // pair — driver union-find has no iteration budget to under-merge
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L)))
      .toDF("id_a", "id_b")
    val (fast, fastStats) = Dedup.componentsWithStats(edges)
    assert(fastStats.iterations == 0 && fastStats.converged)
    val (loop, _) = ScalePolicy.forcing(small = false)(
      Dedup.componentsWithStats(edges, maxIters = 50))
    val f = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l = loop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == l)
    assert((0L to 40L).forall(f(_) == 0L))
    assert(f(100L) == 100L && f(102L) == 100L && f(201L) == 200L)

    // string ids: min label under unsigned UTF-8 byte order (same as
    // Spark's min on strings) — ties of prefix vs longer string included
    val sEdges = Seq(("b", "ab"), ("ab", "abc"), ("z", "za"))
      .toDF("id_a", "id_b")
    val sf = Dedup.componentsWithStats(sEdges)._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sl = ScalePolicy.forcing(small = false)(
      Dedup.componentsWithStats(sEdges))._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sf == sl)
    assert(sf("b") == "ab" && sf("abc") == "ab" && sf("za") == "z")

    // one-null-endpoint edges: the non-null node stays as an isolated
    // self-labeled row on both paths (the loop's join can never match a
    // null; the driver path must keep the same row set)
    val nEdges = Seq((Option.empty[Long], Some(5L)), (Some(7L), Some(8L)))
      .toDF("id_a", "id_b")
    val nFast = Dedup.componentsWithStats(nEdges)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nFast == Map(5L -> 5L, 7L -> 7L, 8L -> 7L))

    // empty pair set: an empty labels frame with the right schema on both
    // paths, and a dup-free corpus survives a dropper untouched
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (e1, es1) = Dedup.componentsWithStats(empty)
    assert(e1.count() == 0 && e1.columns.toSeq == Seq("id", "label"))
    assert(es1.converged)
    val uniqueDocs = (0 until 20)
      .map(i => (i.toLong, s"clearly unique document number $i with enough bytes"))
      .toDF("doc_id", "text")
    val survivors = Dedup.dropNearDuplicates(uniqueDocs, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 1.0, verifyExact = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0 until 20).map(_.toLong).toSet)
  }

  test("minhashPairs survives duplicate crowding past maxBucket " +
    "(organic-corpus regression: per-row band buckets dropped dup pairs)") {
    val docs = ((0 until 30).map(i => (i.toLong, "same exact duplicated content here")) ++
      Seq((100L, "completely different text payload indeed")))
      .toDF("doc_id", "text")
    // maxBucket far below the duplicate count: collapsing to distinct
    // signatures must still find every identical pair at est 1.0
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 1.0, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 30 * 29 / 2)
    assert(pairs.forall { case (a, b, e) => a < b && b < 100L && e == 1.0 })
  }

  test("minhashPairs star fallback past maxEqualGroup keeps connectivity") {
    val docs = (0 until 12).map(i => (i.toLong, "identical content here again"))
      .toDF("doc_id", "text")
    // scale regime forced: see the simhash star-fallback spec
    val pairs = ScalePolicy.forcing(small = false)(Dedup.minhashPairs(
      docs, "doc_id", "text", numHashes = 48, bands = 12, threshold = 1.0,
      maxEqualGroup = 5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // spanning tree of the 12-member equal-signature group: 11 edges,
    // one component rooted at the min id
    assert(pairs.size == 11, pairs.toString)
    assert(pairs.forall { case (a, b) => a < b && b < 12L })
    val parent = scala.collection.mutable.Map((0L until 12L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 12L).map(find).toSet.size == 1)
  }

  test("minhashPairs above the cross-signature est ceiling skips banding " +
    "(threshold 1.0 pays no band shuffle) and keeps the exact pair set") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(80)
    val dup = docs.limit(15)
      .select((col("doc_id") + 5000).as("doc_id"), col("text"))
    val in = docs.unionByName(dup)
    val exact = Dedup.minhashPairs(in, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 1.0)
    // the banding branch is provably empty at threshold 1.0: no band
    // posexplode and no band-bucket aggregation may appear in the plan
    val plan = exact.queryExecution.executedPlan.toString
    assert(!plan.contains("posexplode"),
      "threshold=1.0 plan still carries the band stage")
    // a threshold below the (numHashes-1)/numHashes ceiling keeps it
    val banded = Dedup.minhashPairs(in, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 0.5)
    assert(banded.queryExecution.executedPlan.toString.contains("posexplode"))
    // and the short-circuited result is exactly the identical-signature
    // pair set: the banded run at a lower threshold, filtered to est 1.0
    val fast = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val slow = banded.filter(col("est_jaccard") >= 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == slow && fast.size >= 15, s"fast=${fast.size} slow=${slow.size}")
  }

  test("minhashPairs finds planted near-duplicates and not random pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(100)
    val mutated = docs.select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text").substr(lit(1), length(col("text")) - 20),
        lit(" tail")).as("text"))
    val pairs = Dedup.minhashPairs(docs.unionByName(mutated), "doc_id", "text",
      shingleK = 5, numHashes = 48, bands = 12, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 100).map(i => (i.toLong, i + 1000L)).toSet
    val found = planted.intersect(pairs)
    assert(found.size >= 95, s"recall ${found.size}/100")
  }

  test("annBuckets survives duplicate crowding past maxBucket " +
    "(same latent flaw the 20x run caught for SimHash: per-row buckets " +
    "drop identical-vector pairs once duplicate mass crowds the cap)") {
    import spark.implicits._
    val same = Array.fill(16)(0.5f)
    val rows = (0 until 30).map(i => (i.toLong, same)) ++
      Seq((100L, Array.fill(16)(-0.25f)))
    val pairs = Similarity.annBuckets(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", numPlanes = 6, dim = 16, minCos = 0.999,
      maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 30 * 29 / 2)
    assert(pairs.forall { case (a, b, c) => a < b && b < 100L && c == 1.0 })
    // past maxEqualGroup the salted path bounds the degenerate group:
    // per-salt stars + a (global-min → salt-min) chain — a spanning TREE
    // of the 30-member group (29 edges), connectivity preserved
    val star = Similarity.annBuckets(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", numPlanes = 6, dim = 16, minCos = 0.999,
      maxBucket = 5, maxEqualGroup = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star.size == 29, star.toString)
    assert(star.forall { case (a, b) => a < b && b < 100L })
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    star.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 30L).map(find).toSet.size == 1, "group must stay connected")
  }

  test("simhashPairs survives duplicate crowding past maxBucket " +
    "(20x-scale regression: per-row 16-bit buckets dropped dup pairs)") {
    val docs = ((0 until 30).map(i => (i.toLong, "same exact duplicated content here")) ++
      Seq((100L, "completely different text payload indeed")))
      .toDF("doc_id", "text")
    // maxBucket far below the duplicate count: collapsing to distinct
    // sketches must still find every identical pair
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 0, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 30 * 29 / 2)
    assert(pairs.forall { case (a, b) => a < b && b < 100L })
  }

  test("simhashPairs ≡ brute-force band-share + hamming filter") {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(80)
    val mutated = base.select((col("doc_id") + 2000).as("doc_id"),
      concat(col("text").substr(lit(1), length(col("text")) - 12),
        lit(" tail")).as("text"))
    val copies = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 4000).as("doc_id"), col("text"))
    val docs = base.unionByName(mutated).unionByName(copies)

    val sk = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.SimHash64(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def shareBand(a: Long, b: Long) = (0 until 4).exists(j =>
      ((a >>> (j * 16)) & 0xFFFFL) == ((b >>> (j * 16)) & 0xFFFFL))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expected = (for {
      (ia, sa) <- sk; (ib, sb) <- sk
      if ia < ib && shareBand(sa, sb) && ham(sa, sb) <= 6
    } yield (ia, ib) -> ham(sa, sb)).toMap

    val actual = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(expected.nonEmpty) // the planted identical copies guarantee pairs
    assert(actual == expected)
  }

  test("components: label propagation finds min-id per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L)).toDF("id_a", "id_b")
    val labels = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(Seq(20L, 21L, 22L, 23L).forall(labels(_) == 20L))
  }

  test("components: reliable checkpointing produces identical labels") {
    // local checkpoint blocks die with their executor; the reliable path
    // survives executor loss on a real cluster — results must be identical
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.components(pairs, reliableCheckpoint = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dropNearDuplicates removes planted mutants, keeps originals") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(60)
    val mutated = docs.select((col("doc_id") + 5000).as("doc_id"),
      concat(col("text").substr(lit(1), length(col("text")) - 15),
        lit(" zz")).as("text"))
    val out = Dedup.dropNearDuplicates(docs.unionByName(mutated),
      "doc_id", "text", numHashes = 48, bands = 12, threshold = 0.5)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // something was dropped, and survivors exist
    assert(kept.nonEmpty && kept.size < 120)
    // a planted (original, mutant) pair almost never both survives —
    // misses only on LSH recall failures
    val bothSurvived = (0 until 60).count(i =>
      kept.contains(i.toLong) && kept.contains(i + 5000L))
    assert(bothSurvived <= 3, s"$bothSurvived planted pairs both survived")
    // survivors are component minima: no kept mutant without its original
    // having been removed by an (original, original) merge
    assert(kept.count(_ < 5000) >= kept.count(_ >= 5000))
  }

  test("dropNearDuplicatesWithStats: same survivors as the plain dropper, " +
    "convergence telemetry visible to the caller") {
    val docs = ((0 until 10).map(i => (i.toLong, "identical duplicated payload")) ++
      Seq((50L, "an entirely different document text")))
      .toDF("doc_id", "text")
    val (out, stats) = Dedup.dropNearDuplicatesWithStats(docs, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 1.0)
    // at threshold 1.0 the clique fast path runs: no propagation loop,
    // iterations = 0, trivially converged
    assert(stats.converged && stats.iterations == 0, stats.toString)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 50L))
    val plain = Dedup.dropNearDuplicates(docs, "doc_id", "text",
      numHashes = 48, bands = 12, threshold = 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == kept)
    // below the est ceiling with the loop forced (scale regime) the
    // label-propagation telemetry is real (eager loop: stats exact
    // while `out` stays lazy)
    val (out2, stats2) = ScalePolicy.forcing(small = false)(
      Dedup.dropNearDuplicatesWithStats(docs, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 0.9))
    assert(stats2.converged && stats2.iterations >= 1, stats2.toString)
    assert(out2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 50L))
  }

  test("dropNearDuplicates fast path: clique survivors equal the " +
    "label-propagation survivors, short/null texts always survive") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(60)
    val dup = docs.limit(20)
      .select((col("doc_id") + 7000).as("doc_id"), col("text"))
    val shorty = Seq((8001L, "ab"), (8002L, "ab"),
      (8003L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val in = docs.unionByName(dup).unionByName(shorty)
    for (verify <- Seq(true, false)) {
      val fast = Dedup.dropNearDuplicates(in, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 1.0, verifyExact = verify)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // survivors: the 60 originals (min ids of each clique), none of the
      // 20 planted copies, and every signature-less row untouched
      assert((0 until 60).forall(i => fast.contains(i.toLong)), s"verify=$verify")
      assert((0 until 20).forall(i => !fast.contains(i + 7000L)), s"verify=$verify")
      assert(Set(8001L, 8002L, 8003L).subsetOf(fast), s"verify=$verify")
      // and the label-propagation path agrees where it must: a threshold
      // AT the ceiling (47/48, not above it) keeps banding and the
      // component loop alive. With exact verification the loop's pairs
      // reduce to the same text cliques -> identical survivors; without
      // it the loop may additionally drop genuine 47/48-similarity
      // near-dups (the corpus plants some), so fast-path survivors are a
      // superset there.
      val loop = Dedup.dropNearDuplicates(in, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 47.0 / 48.0,
        verifyExact = verify)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      if (verify) assert(loop == fast)
      else assert(loop.subsetOf(fast), s"loop=${loop.size} fast=${fast.size}")
    }
  }

  test("dropNearDuplicates fast path: a duplicated id never deletes its " +
    "own document (the group min keeps every row, like the loop)") {
    // id 1 appears twice with the same long text; ids 2,3 are copies
    val rows = Seq(
      (1L, "the same long duplicated body of text with enough bytes"),
      (1L, "the same long duplicated body of text with enough bytes"),
      (2L, "the same long duplicated body of text with enough bytes"),
      (3L, "another body that is unique and long enough to sign"))
      .toDF("doc_id", "text")
    for (verify <- Seq(true, false)) {
      val out = Dedup.dropNearDuplicates(rows, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 1.0, verifyExact = verify)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      // both rows of the min id survive; id 2 is the loser; 3 untouched
      assert(out == Seq(1L, 1L, 3L), s"verify=$verify got $out")
    }
  }

  test("dropNearDuplicates verified fast path (r21): the scale-gated " +
    "digest grouping equals the byte-exact exactGroups grouping") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(60)
    val dup = docs.limit(20)
      .select((col("doc_id") + 7000).as("doc_id"), col("text"))
    val shorty = Seq((8001L, "ab"), (8003L, null.asInstanceOf[String]),
      // duplicated min id: digest path must keep BOTH rows, like losersOf
      (0L, "planted duplicated-id body with plenty of bytes to shingle"),
      (0L, "planted duplicated-id body with plenty of bytes to shingle"))
      .toDF("doc_id", "text")
    val in = docs.unionByName(dup).unionByName(shorty)
    def run(small: Boolean) = ScalePolicy.forcing(small)(
      Dedup.dropNearDuplicatesWithStats(in, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 1.0, verifyExact = true))
      ._1.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val digest = run(small = false)   // forces the digest grouping
    val byteExact = run(small = true) // forces exactGroups
    assert(digest == byteExact,
      s"digest path diverged: ${digest.size} vs ${byteExact.size} rows")
    assert(digest.count(_ == 0L) == 3,
      "all three rows of the duplicated min id must survive")
  }

  test("ngram jaccard: identical = 1, disjoint = 0") {
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w"))
      .toDF("x", "y")
      .select(Dedup.ngramJaccard(
        Dedup.wordNgrams(col("x"), 2), Dedup.wordNgrams(col("y"), 2)).as("j"))
      .collect().map(_.getDouble(0))
    assert(df(0) == 1.0 && df(1) == 0.0)
  }
}

class SimilaritySpec extends SparkSpec {

  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("dropEmbeddingDuplicatesWithStats: survivors match the plain " +
    "dropper, telemetry exposed") {
    val corpus = emb.limit(80)
    // loop forced: the telemetry is the real propagation count
    val (out, stats) = ScalePolicy.forcing(small = false)(
      Similarity.dropEmbeddingDuplicatesWithStats(
        corpus, "vec_id", "embedding", minCos = 0.999))
    assert(stats.iterations >= 1, stats.toString)
    val kept = out.select("vec_id").collect().map(_.getLong(0)).toSet
    val plain = Similarity.dropEmbeddingDuplicates(
      corpus, "vec_id", "embedding", minCos = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == plain)
    // auto path (tiny pair graph): exact driver components, same survivors
    val (outAuto, statsAuto) = Similarity.dropEmbeddingDuplicatesWithStats(
      corpus, "vec_id", "embedding", minCos = 0.999)
    assert(statsAuto.iterations == 0 && statsAuto.converged)
    assert(outAuto.select("vec_id").collect().map(_.getLong(0)).toSet == kept)
  }

  test("bruteForceTopK returns k ranked neighbors per query, self excluded") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 4)
    val rows = out.collect()
    assert(rows.length == 12)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("cand_id")))
    // ranks are 1..4 per query and cos non-increasing in rank
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivf: probing all clusters reproduces brute force; partial probe recalls") {
    val corpus = emb.limit(400)
    val queries = emb.filter(col("vec_id") < 5)
    val index = Similarity.ivfBuild(corpus, "vec_id", "embedding", numCentroids = 8)

    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val full = Similarity.ivfSearch(index, queries, "vec_id", "embedding", 5,
      nprobe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(full == exact, "nprobe = numCentroids must equal brute force")

    val partial = Similarity.ivfSearch(index, queries, "vec_id", "embedding", 5,
      nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = partial.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("ivf k-means refinement tightens clusters; exactness unaffected") {
    val corpus = emb.limit(400)
    val queries = emb.filter(col("vec_id") < 5)

    def meanAssignedCos(index: Similarity.IvfIndex): Double = {
      // mean cosine between each vector and its assigned centroid
      val cents = index.centroids.toMap
      index.assigned.collect().map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val c = cents(r.getInt(2))
        val dot = v.zip(c).map { case (x, y) => x * y }.sum
        val d = math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum)
        if (d == 0) 0.0 else dot / d
      }.sum / 400.0
    }

    val seeded = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 0)
    val refined = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      numCentroids = 8, kmeansIters = 3)
    // Lloyd iterations must not make the assignment looser
    assert(meanAssignedCos(refined) >= meanAssignedCos(seeded) - 1e-9)

    // nprobe = all stays exactly brute force regardless of centroids
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val full = Similarity.ivfSearch(refined, queries, "vec_id", "embedding", 5,
      nprobe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(full == exact)
  }

  test("ivf lattice refinement recovers a planted small cluster the seed " +
    "sample misses; sample-only training never does") {
    import spark.implicits._
    val dim = 8
    // blobs separated in DIRECTION (5·e1 vs 5·e8) with equal norms, so
    // lattice L2 (the refinement metric) and cosine (the index's
    // assignment metric) rank them identically — the geometry the header
    // comment on ivfBuild's refine path assumes. The 5× radius keeps the
    // inter-blob lattice distance (~450 units) above the escape threshold
    // σ/f ≈ 110 (within-blob spread σ ≈ 34 lattice units over the pull
    // fraction f = 12/(12+300/4)): iteration 1 pulls one centroid 14% of
    // the way toward the small blob, far enough that iteration 2 strips
    // its big-blob share and iteration 3 lands it on the blob mean.
    def noise(i: Long, d: Int) = (((i * 31 + d * 7) % 97).toFloat / 97f - 0.5f) * 0.2f
    val big = (0L until 300L).map { i =>
      (i, (0 until dim).map(d => (if (d == 0) 5f else 0f) + noise(i, d)))
    }
    val small = (300L until 312L).map { i =>
      (i, (0 until dim).map(d => (if (d == 7) 5f else 0f) + noise(i, d)))
    }
    val corpus = (big ++ small).toDF("vec_id", "embedding")

    val sampleOnly = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      numCentroids = 4)
    // premise of the property: the deterministic xxhash sample drew every
    // seed from the big blob (12/312 odds miss the small one), so
    // sample-only training has NO centroid anywhere near the small cluster
    def nearSmall(c: Seq[Double]) = c(7) > 3.0 && c(0) < 2.0
    assert(!sampleOnly.centroids.exists(c => nearSmall(c._2)),
      "fixture broken: a sampled seed landed in the small blob")

    val refined = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      numCentroids = 4, refineIterations = 3)
    assert(refined.centroids.exists(c => nearSmall(c._2)),
      s"refinement failed to recover the planted cluster: ${refined.centroids}")
    // the recovered centroid owns the small blob exclusively: all 12
    // planted vectors assign to one cluster that holds nothing else
    val bySmall = refined.assigned.filter(col("id") >= 300L)
      .select("cluster").distinct().collect().map(_.getInt(0))
    assert(bySmall.length == 1)
    val owner = bySmall.head
    assert(refined.assigned.filter(col("cluster") === owner)
      .filter(col("id") < 300L).isEmpty)
    // and nprobe = all remains exactly brute force with refined centroids
    val queries = corpus.filter(col("vec_id") >= 300L && col("vec_id") < 303L)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val full = Similarity.ivfSearch(refined, queries, "vec_id", "embedding", 3,
      nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(full == exact)
  }

  test("int8 quantization: codes in range, reconstruction within half a step") {
    val q = Similarity.quantize(emb.limit(200), "vec_id", "embedding")
    val joined = q.join(emb.limit(200), "vec_id")
      .select(col("vec_id"), col("embedding"), col("qmin"), col("qmax"),
        col("codes"),
        Similarity.dequantize(col("codes"), col("qmin"), col("qmax")).as("rec"))
      .collect()
    assert(joined.length == 200)
    joined.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val (qmin, qmax) = (r.getDouble(2), r.getDouble(3))
      val codes = r.getSeq[Int](4)
      val rec = r.getSeq[Double](5)
      assert(codes.forall(c => c >= 0 && c <= 255))
      val halfStep = (qmax - qmin) / 510.0 + 1e-12
      v.zip(rec).foreach { case (x, y) =>
        assert(math.abs(x - y) <= halfStep, s"|$x - $y| > $halfStep")
      }
      // the extremes hit the code range ends exactly
      assert(codes(v.indexOf(qmin)) == 0 && codes(v.indexOf(qmax)) == 255)
    }
  }

  test("quantize stays a single shuffle-free projection; constant vectors safe") {
    import spark.implicits._
    val q = Similarity.quantize(emb, "vec_id", "embedding")
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
    val const = Seq((1L, Seq(2.5f, 2.5f, 2.5f))).toDF("vec_id", "embedding")
    val row = Similarity.quantize(const, "vec_id", "embedding").head()
    assert(row.getSeq[Int](3) == Seq(0, 0, 0))
  }

  test("quantizedTopK: full rerank depth reproduces brute force exactly; " +
    "partial depth keeps high recall") {
    val corpus = emb.limit(300)
    val queries = emb.filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet

    val exact = canon(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 5))
    val full = canon(Similarity.quantizedTopK(corpus, queries,
      "vec_id", "embedding", 5, rerankDepth = Int.MaxValue))
    assert(full == exact, "rerankDepth >= corpus must equal brute force")

    // int8 coarse scores are within ~1e-2 of exact cosine, so a modest
    // rerank depth recovers nearly all true neighbors
    val partial = canon(Similarity.quantizedTopK(corpus, queries,
      "vec_id", "embedding", 5, rerankDepth = 25))
      .map(t => (t._1, t._2))
    val truth = exact.map(t => (t._1, t._2))
    val recall = partial.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("annBuckets only pairs vectors sharing a bucket; cos bounded") {
    val out = Similarity.annBuckets(emb.limit(300), "vec_id", "embedding",
      numPlanes = 6, dim = 64, minCos = -1.0)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("nearestPrior attaches latest right payload at or before left ts") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 7L, "r7"))
      .toDF("rk", "rts", "payload")
    val out = AsOfJoin.nearestPrior(left, right, "k", "rk", "ts", "rts",
      Seq("payload"))
      .select("name", "payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("e1").contains("r10")) // inclusive at equal ts
    assert(out("e2").contains("r20"))
    assert(out("e3").isEmpty) // right row is after left ts
  }

  test("multi-payload as-of never mixes columns from different right rows") {
    // the nearest right row carries a NULL in one payload field: that NULL
    // must win — a stale non-null from an older row must NOT leak in
    val left = Seq((1L, 30L, "e")).toDF("k", "ts", "name")
    val right = Seq(
      (1L, 10L, Option(3L), Option(4L)),
      (1L, 20L, Option.empty[Long], Option(9L)))
      .toDF("rk", "rts", "p1", "p2")
    val r = AsOfJoin.nearestPrior(left, right, "k", "rk", "ts", "rts",
      Seq("p1", "p2")).head()
    assert(Option(r.getAs[java.lang.Long]("p1")).isEmpty,
      "p1 must be the ts=20 row's NULL, not ts=10's stale 3")
    assert(r.getAs[Long]("p2") == 9L)

    // forward direction: nearest following row's NULL also wins
    val fRight = Seq(
      (1L, 35L, Option.empty[Long], Option(7L)),
      (1L, 40L, Option(5L), Option(8L)))
      .toDF("rk", "rts", "p1", "p2")
    val f = AsOfJoin.nearestFollowing(left, fRight, "k", "rk", "ts", "rts",
      Seq("p1", "p2")).head()
    assert(Option(f.getAs[java.lang.Long]("p1")).isEmpty)
    assert(f.getAs[Long]("p2") == 7L)
  }

  test("nearestFollowing attaches earliest right payload at or after left ts") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 3L, "r3"))
      .toDF("rk", "rts", "payload")
    val out = AsOfJoin.nearestFollowing(left, right, "k", "rk", "ts", "rts",
      Seq("payload"))
      .select("name", "payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("e1").contains("r10")) // inclusive at equal ts
    assert(out("e2").isEmpty)         // no right row at/after 25
    assert(out("e3").isEmpty)         // right row is BEFORE left ts
  }

  test("null keys and null timestamps never match (SQL as-of semantics)") {
    // a null-ts right row sorts FIRST ascending — without the null filter
    // its payload attaches to any left row lacking a genuine prior match
    val left = Seq((Option(1L), Option(10L), "e1"),
      (Option(1L), Option.empty[Long], "eNullTs"),
      (Option.empty[Long], Option(10L), "eNullKey"))
      .toDF("k", "ts", "name")
    val right = Seq((Option(1L), Option.empty[Long], "rNullTs"),
      (Option.empty[Long], Option(5L), "rNullKey"),
      (Option(1L), Option(4L), "r4"))
      .toDF("rk", "rts", "payload")
    val prior = AsOfJoin.nearestPrior(left, right, "k", "rk", "ts", "rts",
      Seq("payload"))
      .select("name", "payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(prior("e1").contains("r4"))
    assert(prior("eNullTs").isEmpty,  "null left ts matches nothing")
    assert(prior("eNullKey").isEmpty, "null left key matches nothing")

    // forward mode sorts null left ts LAST — it would otherwise receive
    // the earliest right payload
    val following = AsOfJoin.nearestFollowing(left, right, "k", "rk",
      "ts", "rts", Seq("payload"))
      .select("name", "payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(following("eNullTs").isEmpty)
    assert(following("eNullKey").isEmpty)
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("byGap starts a new session when gap exceeded") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val out = Sessionize.byGap(df, "user_id", "ts", gapSeconds = 1800)
      .select("user_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.count(_ == (1L, 1L)) == 2) // first two events same session
    assert(out.contains((1L, 2L)))        // 2h gap → new session
    assert(out.contains((2L, 1L)))
  }
}

class MultimodalSpec extends SparkSpec {

  test("documentBytesPipeline emits one feature row per document") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Multimodal.documentBytesPipeline(spark, docs)
    assert(out.count() == docs.count())
    val r = out.head()
    assert(r.getAs[String]("mime") == "text/plain")
    assert(r.getAs[Long]("n_bytes") > 0)
  }

  test("resize bounds payloads; frame sampling yields n rows per asset") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val media = docs.select(
      org.apache.spark.sql.functions.col("doc_id").as("media_id"),
      org.apache.spark.sql.functions.encode(
        org.apache.spark.sql.functions.col("text"), "UTF-8").as("payload"),
      org.apache.spark.sql.functions.lit("video/fake").as("mime"),
      org.apache.spark.sql.functions.lit(0).as("width"),
      org.apache.spark.sql.functions.lit(0).as("height"))
      .as[Multimodal.MediaRow]

    val resized = Multimodal.resize(media, targetBytes = 64)
    assert(resized.collect().forall(_.payload.length <= 64))

    val frames = Multimodal.sampleFrames(media, framesPerAsset = 4, frameBytes = 16)
    assert(frames.count() == 80)
    assert(frames.collect().forall(_.payload.length <= 16))
  }

  test("decode stub is deterministic across runs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(10)
    val a = Multimodal.documentBytesPipeline(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    val b = Multimodal.documentBytesPipeline(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(a == b)
  }

  /** Deterministic RGB test image: pixel (x, y) = (x%256, y%256, (x+y)%256). */
  private def testPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x % 256 << 16) | (y % 256 << 8) | ((x + y) % 256))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("decodeImages: real PNG decode recovers dimensions and channel means") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, testPng(32, 16), "image/png", 32, 16),
      Multimodal.MediaRow(2L, testPng(8, 8), "image/png", 8, 8),
      Multimodal.MediaRow(3L, "not an image".getBytes("UTF-8"), "text/plain", 0, 0)
    ).toDS().repartition(2)
    val out = Multimodal.decodeImages(media).collect().map(m => m.media_id -> m).toMap

    assert(out(1L).ok && out(1L).width == 32 && out(1L).height == 16 &&
      out(1L).channels == 3)
    // red channel of image 1 = x % 256 with x in [0, 32) → mean 15.5
    assert(math.abs(out(1L).channel_mean(0) - 15.5) < 1e-9)
    // green channel = y % 256, y in [0, 16) → mean 7.5
    assert(math.abs(out(1L).channel_mean(1) - 7.5) < 1e-9)
    assert(out(2L).ok && out(2L).width == 8 && out(2L).height == 8)
    assert(!out(3L).ok) // undecodable payload quarantined, not dropped
  }

  /** Real WAV bytes via the JDK's own RIFF writer (javax.sound.sampled). */
  private def testWav(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
    java.util.Arrays.fill(pcm, 0x11.toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  test("decodeAudio: real RIFF/WAVE header parse recovers format and duration") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, testWav(8000, 1, 4000), "audio/wav", 0, 0),
      Multimodal.MediaRow(2L, testWav(44100, 2, 22050), "audio/wav", 0, 0),
      Multimodal.MediaRow(3L, "not audio at all".getBytes("UTF-8"), "text/plain", 0, 0)
    ).toDS().repartition(2)
    val out = Multimodal.decodeAudio(media).collect().map(m => m.media_id -> m).toMap

    assert(out(1L).ok && out(1L).sample_rate == 8000 && out(1L).channels == 1 &&
      out(1L).bits_per_sample == 16 && out(1L).n_frames == 4000)
    assert(math.abs(out(1L).duration_sec - 0.5) < 1e-9)
    assert(out(2L).ok && out(2L).sample_rate == 44100 && out(2L).channels == 2 &&
      out(2L).n_frames == 22050)
    assert(math.abs(out(2L).duration_sec - 0.5) < 1e-9)
    assert(!out(3L).ok) // non-WAV payload quarantined, not dropped
  }

  test("encodeWav: byte-identical to the JDK's own RIFF writer for canonical PCM") {
    for ((rate, ch, frames) <- Seq((8000, 1, 100), (44100, 2, 313), (12000, 2, 1))) {
      val pcm = Array.tabulate[Byte](frames * ch * 2)(i => ((i * 37 + 11) % 251).toByte)
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      assert(java.util.Arrays.equals(
        Multimodal.encodeWav(rate, ch, 16, pcm), baos.toByteArray),
        s"encodeWav($rate, $ch) diverges from AudioSystem's WAVE layout")
    }
  }

  test("solidPng: real decode recovers exact integer channel means") {
    val Some((w, h, ch, means)) = Multimodal.decodeImage(
      Multimodal.solidPng(13, 9, 200, 55, 7))
    assert(w == 13 && h == 9 && ch == 3)
    assert(means.toSeq == Seq(200.0, 55.0, 7.0)) // constant fill ⇒ exact
  }

  test("decodeWav quarantines compressed (non-PCM) format tags") {
    // frames = data/blockAlign only holds for uncompressed layouts; an
    // ADPCM tag uses blockAlign as the compressed block size, so a parsed
    // result would be off by the compression factor — must return None
    val good = testWav(8000, 1, 1000)
    val adpcm = good.clone()
    adpcm(20) = 2 // audioFormat u16le at offset 20: 2 = MS ADPCM
    assert(Multimodal.decodeWav(adpcm).isEmpty)
    val imaAdpcm = good.clone()
    imaAdpcm(20) = 17
    assert(Multimodal.decodeWav(imaAdpcm).isEmpty)
    // IEEE-float PCM (3) keeps the bytes-per-frame contract: still parsed
    val floatPcm = good.clone()
    floatPcm(20) = 3
    assert(Multimodal.decodeWav(floatPcm).nonEmpty)
  }

  test("decodeWav survives corrupt chunk sizes and truncated data") {
    val good = testWav(8000, 1, 1000)
    // truncate mid-data: frame count reflects the bytes actually present
    val truncated = good.take(good.length - 500)
    val Some((rate, ch, _, frames)) = Multimodal.decodeWav(truncated)
    assert(rate == 8000 && ch == 1 && frames == 1000 - 250)
    // corrupt the data chunk length field to 0xFFFFFFFF: must not loop/throw
    val corrupt = good.clone()
    val dataOff = {
      // find the 'data' tag
      (12 until corrupt.length - 4).find(i =>
        corrupt(i) == 'd' && corrupt(i + 1) == 'a' &&
          corrupt(i + 2) == 't' && corrupt(i + 3) == 'a').get
    }
    corrupt(dataOff + 4) = 0xFF.toByte; corrupt(dataOff + 5) = 0xFF.toByte
    corrupt(dataOff + 6) = 0xFF.toByte; corrupt(dataOff + 7) = 0xFF.toByte
    assert(Multimodal.decodeWav(corrupt).exists(_._4 <= 1000))
    // garbage prefix → clean None
    assert(Multimodal.decodeWav(Array.fill[Byte](100)(7)).isEmpty)
  }

  test("resizeImages: real resize re-encodes at target dimensions") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, testPng(64, 64), "image/png", 64, 64)).toDS()
    val resized = Multimodal.resizeImages(media, targetW = 16, targetH = 12).collect()
    assert(resized.length == 1 && resized.head.mime == "image/png")
    val Some((w, h, ch, _)) = Multimodal.decodeImage(resized.head.payload)
    assert(w == 16 && h == 12 && ch == 3)
  }
}

class AsOfStringKeySpec extends graft.SparkSpec {
  import spark.implicits._
  test("as-of join works with string keys (no silent numeric cast)") {
    val left = Seq(("u1", 10L, "e1"), ("u2", 5L, "e2")).toDF("k", "ts", "name")
    val right = Seq(("u1", 8L, "p8"), ("u2", 9L, "p9")).toDF("rk", "rts", "payload")
    val out = AsOfJoin.nearestPrior(left, right, "k", "rk", "ts", "rts",
      Seq("payload"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[String]("payload"))).toMap
    assert(out("e1").contains("p8"))
    assert(out("e2").isEmpty)
  }
}

class EntrySpec extends graft.SparkSpec {
  test("driver smoke contract: entry returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
  test("every oracleSql key has a queries entry") {
    val q = graft.SparkEntry.queries.keySet
    val missing = graft.SparkEntry.oracleSql.keySet.diff(q)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}

class SessionWindowSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def ts(epochSec: Long) = new java.sql.Timestamp(epochSec * 1000)

  test("native session_window agrees with the lag-sweep away from boundaries") {
    val df = Seq(
      (1L, ts(100)), (1L, ts(200)), (1L, ts(5000)), (1L, ts(5100)),
      (2L, ts(100)), (2L, ts(10000))
    ).toDF("user_id", "t")

    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("user_id", "start_epoch", "end_epoch", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    val sweep = canon(Sessionize.sessionStats(
      df, "user_id", "t", valueCol = "user_id", gapSeconds = 1800))
    val native = canon(Sessionize.bySessionWindow(df, "user_id", "t", 1800)
      .withColumn("n_events", col("n_events").cast("long")))
    assert(sweep == native)
  }

  test("boundary: an exactly-gap event merges in BOTH forms; gap+1 splits both") {
    val atGap = Seq((1L, ts(0)), (1L, ts(1800))).toDF("user_id", "t")
    assert(Sessionize.sessionStats(
      atGap, "user_id", "t", valueCol = "user_id", gapSeconds = 1800).count() == 1)
    assert(Sessionize.bySessionWindow(atGap, "user_id", "t", 1800).count() == 1)

    val pastGap = Seq((1L, ts(0)), (1L, ts(1801))).toDF("user_id", "t")
    assert(Sessionize.sessionStats(
      pastGap, "user_id", "t", valueCol = "user_id", gapSeconds = 1800).count() == 2)
    assert(Sessionize.bySessionWindow(pastGap, "user_id", "t", 1800).count() == 2)
  }
}
