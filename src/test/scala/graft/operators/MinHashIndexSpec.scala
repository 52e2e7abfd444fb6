package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PqRepo

/** Persisted MinHash band index (r19 verdict #2): the near-dup ingest
  * lifecycle — build once, append per batch, gate batches without
  * re-signing the corpus. Pins the three contract properties the
  * verdict named as done-criteria (append ≡ all-at-once, re-ingest
  * idempotency, gate ≡ the exact-content anti-join at threshold 1.0)
  * plus the near path at a sub-1.0 threshold and the changed-content
  * guard. */
class MinHashIndexSpec extends SparkSpec {

  private def freshRepo(): PqRepo =
    PqRepo(spark, java.nio.file.Files
      .createTempDirectory("mh_index_spec").toString)

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val g = MinHashIndex.Geometry(
    shingleK = 5, numHashes = 64, bands = 16, buckets = 8)

  // seed-prefixed vocabulary: different seeds share NO words (and hence
  // essentially no shingles) — a first cut used `w${(seed*31+i*7)%97}`,
  // whose word sequences are rotations of one periodic cycle mod 97, so
  // "unrelated" paragraphs were near-duplicates of each other (seeds 2
  // and 99 were byte-identical) and the survive assertions failed for
  // data reasons, not gate reasons
  private def para(seed: Int, words: Int = 40): String =
    (0 until words).map(i => s"s${seed}w${(i * 7 + seed) % 53}").mkString(" ")

  test("geometry sidecar round-trips; missing sidecar fails loudly") {
    val repo = freshRepo()
    MinHashIndex.write(repo, docs(1L -> para(1)), "doc_id", "text",
      "idx", "d", g)
    assert(MinHashIndex.geometry(repo, "idx", "d") == g)
    repo.write(docs(1L -> "x").withColumnRenamed("doc_id", "id"),
      "idx", "bare_mhdocs")
    val e = intercept[IllegalStateException](
      MinHashIndex.geometry(repo, "idx", "bare"))
    assert(e.getMessage.contains("sidecar"))
  }

  test("threshold-1.0 gate == exact-content anti-join, short docs included") {
    val repo = freshRepo()
    val corpus = docs(
      1L -> para(1), 2L -> para(2), 3L -> para(3),
      4L -> "abc", // sub-shingle-width: no signature, digest only
      5L -> para(5))
    MinHashIndex.write(repo, corpus, "doc_id", "text", "idx", "d", g)
    val batch = docs(
      101L -> para(1),          // exact copy -> drop
      102L -> (para(2) + " zz"), // near but not exact -> survives at 1.0
      103L -> "abc",            // exact copy of the SHORT doc -> drop
      104L -> "abd",            // short, new -> survives
      105L -> para(99))         // new -> survives
    val out = MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
      "idx", "d", threshold = 1.0)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(102L, 104L, 105L))
    // ≡ the dropKnown-style NOT-EXISTS twin over the same inputs
    val twin = batch.join(corpus.select(col("text")).distinct(),
      Seq("text"), "left_anti")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      twin.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("near gate at threshold 0.5 drops high-overlap variants via bands") {
    val repo = freshRepo()
    val base = para(7, words = 60)
    MinHashIndex.write(repo,
      docs(1L -> base, 2L -> para(8, words = 60)),
      "doc_id", "text", "idx", "d", g)
    val batch = docs(
      201L -> (base + " tail"), // one appended word: near-dup -> drop
      202L -> para(50, words = 60), // unrelated -> survives
      203L -> base)             // exact -> drop (digest path)
    val out = MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
      "idx", "d", threshold = 0.5)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(202L))
    // the same batch at threshold 1.0 keeps the near variant: the two
    // thresholds genuinely exercise different paths
    val exact = MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
      "idx", "d", threshold = 1.0)
    assert(exact.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(201L, 202L))
  }

  test("on a parquet batch the gate runs at most 3 jobs near and 2 at 1.0") {
    val repo = freshRepo()
    val base = para(7, words = 60)
    MinHashIndex.write(repo, docs(1L -> base, 2L -> para(8, words = 60)),
      "doc_id", "text", "idx", "d", g)
    repo.write(docs(201L -> (base + " tail"), 202L -> para(50, words = 60),
      203L -> base), "in", "batch")
    val batch = repo.table("in", "batch")
    def gate(t: Double): Seq[Long] = {
      var out: DataFrame = null
      val jobs = jobsOf {
        out = MinHashIndex.dropNearKnown(repo, batch, "doc_id", "text",
          "idx", "d", threshold = t)
      }
      assert(jobs <= (if (t == 1.0) 2 else 3), s"$jobs jobs at threshold $t")
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(gate(0.5) == Seq(202L))
    assert(gate(1.0) == Seq(201L, 202L))
  }

  private def indexRows(repo: PqRepo): (Set[String], Set[String]) = {
    val d = repo.table("idx", "d_mhdocs")
      .select(col("id"), col("dbucket"), hex(col("dig")).as("dg"),
        to_json(col("sig")).as("sj"))
      .collect().map(_.toString).toSet
    val b = repo.table("idx", "d_mhbands")
      .collect().map(_.toString).toSet
    (d, b)
  }

  test("append(A); append(B) == write(A union B), and append is idempotent") {
    val a = docs(1L -> para(1), 2L -> para(2), 3L -> "ab")
    val b = docs(4L -> para(4), 5L -> para(5))
    val all = freshRepo()
    MinHashIndex.write(all, a.unionByName(b), "doc_id", "text", "idx", "d", g)
    val inc = freshRepo()
    MinHashIndex.write(inc, a, "doc_id", "text", "idx", "d", g)
    MinHashIndex.append(inc, b, "doc_id", "text", "idx", "d")
    assert(indexRows(inc) == indexRows(all))
    // re-ingesting an unchanged batch replaces its own rows exactly
    MinHashIndex.append(inc, b, "doc_id", "text", "idx", "d")
    assert(indexRows(inc) == indexRows(all))
    // and the gate agrees with the all-at-once index
    val batch = docs(100L -> para(4), 101L -> para(77))
    val gAll = MinHashIndex.dropNearKnown(all, batch, "doc_id", "text",
      "idx", "d", 1.0).select("doc_id").collect().map(_.getLong(0)).sorted
    val gInc = MinHashIndex.dropNearKnown(inc, batch, "doc_id", "text",
      "idx", "d", 1.0).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(gAll.toSeq == Seq(101L) && gInc.toSeq == Seq(101L))
  }

  test("changed-content re-ingest fails loudly; checkChanged=false bypasses") {
    val repo = freshRepo()
    MinHashIndex.write(repo, docs(1L -> para(1), 2L -> para(2)),
      "doc_id", "text", "idx", "d", g)
    val changed = docs(2L -> para(2, words = 55))
    val e = intercept[IllegalStateException](
      MinHashIndex.append(repo, changed, "doc_id", "text", "idx", "d"))
    assert(e.getMessage.contains("content changed"))
    // the guarded failure left the index intact
    val (d0, _) = indexRows(repo)
    assert(d0.size == 2)
    MinHashIndex.append(repo, changed, "doc_id", "text", "idx", "d",
      checkChanged = false)
  }

  test("append rewrites only the bucket partitions the batch touches") {
    val repo = freshRepo()
    val corpus = docs((1L to 30L).map(i => i -> para(i.toInt)): _*)
    // 64 buckets: one appended doc emits `bands`=16 band rows, touching
    // at most 16 of them — with 8 buckets the coupon-collector odds of
    // covering every bucket would make the untouched-survivor assertion
    // flaky by construction
    val g64 = MinHashIndex.Geometry(
      shingleK = 5, numHashes = 64, bands = 16, buckets = 64)
    MinHashIndex.write(repo, corpus, "doc_id", "text", "idx", "d", g64)
    val root = new java.io.File(
      repo.tablePath("idx", "d_mhbands").toUri.getPath)
    def mtimes(): Map[String, Long] =
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified())).toMap
    val before = mtimes()
    MinHashIndex.append(repo, docs(1000L -> para(1000)),
      "doc_id", "text", "idx", "d")
    val after = mtimes()
    // one appended doc touches at most `bands` buckets; every file in an
    // untouched bucket partition survives byte-identical (same path,
    // same mtime)
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty, "expected untouched bucket files to survive")
    assert(survivors.forall(p => before(p) == after(p)))
  }
}
