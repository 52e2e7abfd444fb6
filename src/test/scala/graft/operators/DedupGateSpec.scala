package graft.operators

import org.apache.spark.sql.functions._
import graft.{ScalePolicy, SparkSpec}

/** The r11 digest-verification auto-gate: small corpora keep the lazy
  * byte-comparison verification plan (no eager SHA pass), large ones pay
  * the digest fixed cost that removes text-bearing shuffles — and every
  * path returns the same pairs. Each case runs under both
  * [[ScalePolicy]] regimes, forced. */
class DedupGateSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = {
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "a different document"), (4L, "a different document"),
      (5L, "unique text here")).toDF("doc_id", "text")
    // candidates include a FALSE pair (3,5) that verification must prune
    val pairs = Seq((1L, 2L, 1.0), (3L, 4L, 1.0), (3L, 5L, 1.0))
      .toDF("id_a", "id_b", "est_jaccard")
    (docs, pairs)
  }

  test("all three verification paths agree; false candidates pruned") {
    val (docs, pairs) = fixture
    def run(byteExact: Boolean, small: Boolean) = ScalePolicy.forcing(small)(
      Dedup.verifyPairsExact(pairs, docs, "doc_id", "text", byteExact))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 2L), (3L, 4L))
    assert(run(byteExact = true, small = false) == expected)
    assert(run(byteExact = false, small = true) == expected) // lazy bytes
    assert(run(byteExact = false, small = false) == expected) // digest
  }

  test("small-corpus path still thins a degenerate group past maxEqualGroup " +
    "to a spanning tree (no g^2 pair expansion)") {
    // 12 identical docs, maxEqualGroup = 5, small regime (probe-free
    // direct collapse): all-pairs would be 66; the per-row star fallback
    // emits 11 edges, same connectivity — the expansion a gate-small
    // corpus of 50k identical docs would otherwise blow up on
    val docs = (0 until 12).map(i => (i.toLong, "identical content here"))
      .toDF("doc_id", "text")
    val pairs = ScalePolicy.forcing(small = true)(Dedup.minhashPairs(
      docs, "doc_id", "text", numHashes = 48, bands = 12, threshold = 1.0,
      maxEqualGroup = 5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 11, pairs.toString)
    val parent = scala.collection.mutable.Map((0L until 12L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 12L).map(find).toSet.size == 1)
  }

  test("direct collapse thins a degenerate group's ENTRY to its representative " +
    "(banding sees one id, not the full group)") {
    // r12 advice fix: the gate-small path used to keep the FULL ids array
    // for groups past maxEqualGroup — two 50k-member groups sharing a band
    // bucket would cross-expand ~2.5e9 in-row pair structs downstream.
    // Entries must mirror the salted scale branch: representative only.
    val keyed = (0 until 12).map(i => ("samekey", i.toLong)).toDF("k", "id")
      .unionByName(Seq(("other", 100L), ("other", 101L)).toDF("k", "id"))
    val (byKey, pairs) = Dedup.collapseByKeyDirect(keyed, maxEqualGroup = 5)
    val entries = byKey.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(entries("samekey") == Seq(0L), entries.toString)
    assert(entries("other") == Seq(100L, 101L))
    // intra-group connectivity still rides the star pairs
    assert(pairs.filter(col("k") === "samekey").count() == 11)
    assert(pairs.filter(col("k") === "other").count() == 1)
  }

  test("fused single-scan verification equals the two-pass form, both gates") {
    val (docs, _) = fixture
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(true, false).foreach { small => ScalePolicy.forcing(small) {
      val oldMin = pairSet(Dedup.verifyPairsExact(
        Dedup.minhashPairs(docs, "doc_id", "text", numHashes = 48,
          bands = 12, threshold = 1.0),
        docs, "doc_id", "text"))
      val newMin = pairSet(Dedup.minhashPairsVerified(docs, "doc_id", "text",
        numHashes = 48, bands = 12, threshold = 1.0))
      assert(newMin == oldMin && newMin == Set((1L, 2L), (3L, 4L)),
        s"minhash small=$small: $newMin vs $oldMin")
      val oldSim = pairSet(Dedup.verifyPairsExact(
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0),
        docs, "doc_id", "text"))
      val newSim = pairSet(Dedup.simhashPairsVerified(docs, "doc_id", "text",
        maxHamming = 0))
      assert(newSim == oldSim, s"simhash small=$small: $newSim vs $oldSim")
    }}
    // null-text docs group by null sketch but must never verify as pairs
    val withNulls = docs.unionByName(Seq(
      (100L, null.asInstanceOf[String]),
      (101L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val simNull = pairSet(Dedup.simhashPairsVerified(
      withNulls, "doc_id", "text", maxHamming = 0))
    assert(!simNull.contains((100L, 101L)), simNull.toString)
  }

  test("fused == two-pass on a randomized corpus, every gate x threshold combo") {
    // seeded random corpus: 40 base texts, 1-4 copies each, plus
    // near-variants (one word changed) that candidate generation may pair
    // but exact verification must prune
    val rnd = new scala.util.Random(20260814L)
    val words = Vector("alpha", "bravo", "carbon", "delta", "ember",
      "falcon", "granite", "harbor", "indigo", "juniper")
    def text() = Seq.fill(8 + rnd.nextInt(10))(words(rnd.nextInt(words.size)))
      .mkString(" ")
    var id = 0L
    val rows = Seq.newBuilder[(Long, String)]
    (1 to 40).foreach { _ =>
      val t = text()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        rows += ((id, t)); id += 1
      }
      if (rnd.nextBoolean()) { // near-variant
        rows += ((id, t.replaceFirst("\\w+", words(rnd.nextInt(words.size)))))
        id += 1
      }
    }
    val docs = rows.result().toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (small <- Seq(true, false); th <- Seq(1.0, 0.75))
      ScalePolicy.forcing(small) {
        val twoPass = pairSet(Dedup.verifyPairsExact(
          Dedup.minhashPairs(docs, "doc_id", "text", numHashes = 48,
            bands = 12, threshold = th),
          docs, "doc_id", "text"))
        val fused = pairSet(Dedup.minhashPairsVerified(docs, "doc_id", "text",
          numHashes = 48, bands = 12, threshold = th))
        assert(fused == twoPass, s"minhash small=$small th=$th")
        assert(fused.nonEmpty)
      }
    for (small <- Seq(true, false); mh <- Seq(0, 4))
      ScalePolicy.forcing(small) {
        val twoPass = pairSet(Dedup.verifyPairsExact(
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = mh),
          docs, "doc_id", "text"))
        val fused = pairSet(Dedup.simhashPairsVerified(docs, "doc_id", "text",
          maxHamming = mh))
        assert(fused == twoPass, s"simhash small=$small maxHamming=$mh")
      }
  }

  test("below the gate the plan carries no SHA pass; forcing does") {
    val (docs, pairs) = fixture
    val lazyPlan = Dedup.verifyPairsExact(pairs, docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!lazyPlan.contains("sha2"), lazyPlan)
    // the forced scale regime takes the digest path; the materialized
    // frame is plan-opaque (checkpoint scan), so assert on behavior
    // instead: the optimized plan reads the materialized digests, not the
    // text column
    val forced = ScalePolicy.forcing(small = false)(
      Dedup.verifyPairsExact(pairs, docs, "doc_id", "text"))
    val forcedPlan = forced.queryExecution.optimizedPlan.toString
    assert(forcedPlan.contains("LogicalRDD") || forcedPlan.contains("Scan"),
      forcedPlan)
    assert(forced.collect().length == 2)
  }
}
