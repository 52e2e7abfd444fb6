package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.MinHash
import graft.operators.Dedup

/** Streaming MinHash-LSH near-duplicate pairs — the ingest-time twin of
  * [[graft.operators.Dedup.minhashPairs]], closing the last batch/stream
  * asymmetry in the dedup family (streaming previously had EXACT dedup
  * only, [[StreamDedup]]).
  *
  * Shape: per-doc signatures come from the same fused
  * `MinHashSignature` kernel as the batch operator (a stateless
  * projection — text never enters state), band hashes explode into
  * (window, band, bucket) groups, and each group is a
  * `flatMapGroupsWithState` bucket whose state is the member (id,
  * signature, digest) list — fixed-width, BOUNDED by `maxBucket` (the
  * [[StreamTopK]] state-capping pattern) and expired by the event-time
  * watermark when its tumbling window closes. Emission happens solely on
  * EventTimeTimeout: Append output is at-most-once per closed window PER
  * BAND (≤ `bands` copies of a pair, collapsible — see MULTIPLICITY
  * below), never re-emitted for a later window.
  *
  * Equivalence to the batch operator on a closed window
  * (StreamNearDupSpec proves the multi-batch MemoryStream run):
  *  - a pair collides in band b iff its signatures agree on all of
  *    band b's slots, so each near-dup pair is seen by every band it
  *    collides in; EVERY live colliding bucket emits it. A pair is
  *    therefore found iff AT LEAST ONE of its colliding buckets is
  *    under the crowding cap — exactly the batch guarantee, where
  *    crowded buckets are dropped and the survivors merge through the
  *    cross-bucket `groupBy(id_a, id_b)`. (An earlier canonical-band
  *    design emitted only from the LOWEST colliding band to get
  *    exactly-once for free; it silently LOST every pair whose
  *    canonical bucket was crowded while a live higher band held it —
  *    340 real pairs at the 20× tier, because identical signatures
  *    always canonicalize to band 0 and common-shingle skew crowds
  *    exactly the popular buckets. Loss is the one failure a dedup
  *    pipeline can't inspect away; bounded duplication is collapsible.)
  *  - MULTIPLICITY: a pair arrives once per live colliding band —
  *    ≤ `bands` copies, all emitted in the SAME micro-batch (every
  *    bucket of a window times out on the same watermark crossing).
  *    Collapse downstream by (window_start, id_a, id_b) — the same
  *    collapse the late-data caveat below already prescribes; output
  *    volume is pairs × colliding-live-bands, output-sized, never
  *    corpus-sized. est_jaccard is the identical equal-slot fraction
  *    from any band, so the collapse is a plain distinct.
  *  - an over-`maxBucket` bucket emits NOTHING, mirroring the batch
  *    `size(xs) BETWEEN 2 AND maxBucket` crowding guard. The guards
  *    differ under the cap in kind (batch counts DISTINCT signatures
  *    after the collapse and star-expands degenerate equal groups;
  *    the stream counts raw members), so stream ≡ batch holds for
  *    buckets under BOTH caps — the operating regime; a crowded
  *    boilerplate key degrades to capped stars there and to the
  *    surviving-band subset here, both bounded.
  *
  * The standard late-data caveat applies ([[StreamTopK]]): an event
  * arriving after its window's watermark close re-opens the bucket and a
  * supplemental emission (pairs among the late docs only) follows —
  * size `watermarkDelay` to real lateness, or collapse by
  * (window_start, id_a, id_b) downstream.
  */
object StreamNearDup {

  /** One timestamped document. */
  final case class DocEvent(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Internal banded row (public: the Dataset encoder codegens field
    * access and cannot reach a private class's members). `dig` is the
    * 32-byte SHA-256 content digest — fixed-width, computed statelessly
    * with the signature so `verify = true` pairs can be confirmed
    * byte-exact without text ever entering state (the streaming twin of
    * the batch `minhashPairsVerified` digest join). */
  final case class BandedDoc(
      doc_id: Long, ts: java.sql.Timestamp, sig: Array[Long], dig: Array[Byte],
      band: Int, bh: Long)

  /** Band-bucket state: member ids + signatures + content digests (all
    * fixed-width — never text; the digests add 32 B/member, ≤16 KiB per
    * bucket at the default cap), `dead` once the bucket exceeded
    * `maxBucket`. Signatures are PRIMITIVE arrays (r21): the banded rows
    * replicate each signature `bands` times through the shuffle and the
    * state store, and the `Seq[Long]` encoder boxed all `numHashes`
    * slots per copy — the dominant serialization cost of the first
    * micro-batch. Array[Long] encodes as one primitive block. */
  final case class BucketState(
      ids: Seq[Long], sigs: Seq[Array[Long]], digs: Seq[Array[Byte]],
      dead: Boolean)

  /** One emitted near-dup pair (id_a < id_b), per closed window. */
  final case class NearDupPair(
      window_start: Long, id_a: Long, id_b: Long, est_jaccard: Double)

  /** Streaming near-dup pairs per `windowSeconds` tumbling window.
    *
    * `verify = true` emits only pairs whose 32-byte content digests match
    * — byte-exact duplicates, the streaming twin of the batch
    * `minhashPairsVerified` digest join. A templated near-identical pair
    * that collides at FULL signature (same shingle SET, different bytes —
    * real at scale, the dedup_minhash lesson) is killed in-bucket instead
    * of reaching downstream unverified. `verify = false` keeps the
    * candidate semantics (estimates only — downstream digest join
    * required for exactness). */
  def pairsPerWindow(
      docs: Dataset[DocEvent],
      windowSeconds: Long,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      watermarkDelay: String = "0 seconds",
      maxBucket: Int = 500,
      verify: Boolean = false
  ): Dataset[NearDupPair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val r = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val sigCol = MinHash.signature(col("text"), shingleK, numHashes).as("sig")
    // NOTE: the length filter is declared after withWatermark, but
    // Catalyst pushes it below the watermark stats collector (it doesn't
    // reference the event-time column) — so a too-short document does
    // NOT advance the watermark. Watermark progress must come from rows
    // that pass the shingle filter, like any source-side filter.
    val banded = docs.toDF()
      .withWatermark("ts", watermarkDelay)
      .filter(col("text").isNotNull && octet_length(col("text")) >= shingleK)
      .select(col("doc_id"), col("ts"), sigCol,
        MinHash.contentDigest(col("text")).as("dig"))
      .select(col("doc_id"), col("ts"), col("sig"), col("dig"),
        posexplode(MinHash.bandHashes(col("sig"), bands, r))
          .as(Seq("band", "bh")))
      .as[BandedDoc]

    banded
      .groupByKey(b => (math.floorDiv(
        math.floorDiv(b.ts.getTime, 1000L), windowSeconds) * windowSeconds,
        b.band, b.bh))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Int, Long), evs: Iterator[BandedDoc],
         state: org.apache.spark.sql.streaming.GroupState[BucketState]) =>
          val (ws, band, _) = key
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.dead) Iterator.empty
            else emitPairs(ws, band, st, r, numHashes, threshold, verify)
          } else {
            val cur = state.getOption.getOrElse(
              BucketState(Nil, Nil, Nil, dead = false))
            var ids = cur.ids.toVector
            var sigs = cur.sigs.toVector
            var digs = cur.digs.toVector
            var dead = cur.dead
            evs.foreach { b =>
              if (!dead) {
                if (ids.length >= maxBucket) {
                  // crowding guard: mirror the batch BETWEEN(2, maxBucket)
                  // bucket drop AND bound the state — a poisoned bucket
                  // holds no members at all
                  dead = true
                  ids = Vector.empty; sigs = Vector.empty; digs = Vector.empty
                } else { ids :+= b.doc_id; sigs :+= b.sig; digs :+= b.dig }
              }
            }
            state.update(BucketState(ids, sigs, digs, dead))
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1,
              (ws + windowSeconds) * 1000))
            Iterator.empty
          }
      }
  }

  /** In-bucket pair expansion: emit (a, b) from this (live) bucket when
    * the pair genuinely collides in THIS band — the slot comparison
    * stands in for band-hash equality (they differ only on a 2⁻⁶⁴ hash
    * collision, below the sketch's own noise floor) and keeps a chance
    * bh collision between non-colliding signatures from pairing. Each
    * pair emits once per live colliding band; see the operator doc's
    * MULTIPLICITY note. */
  private def emitPairs(
      ws: Long, band: Int, st: BucketState,
      r: Int, numHashes: Int, threshold: Double,
      verify: Boolean): Iterator[NearDupPair] = {
    val n = st.ids.length
    val out = Vector.newBuilder[NearDupPair]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (st.ids(i) != st.ids(j) &&
          (!verify || java.util.Arrays.equals(st.digs(i), st.digs(j)))) {
          val sa = st.sigs(i)
          val sb = st.sigs(j)
          var eq = 0
          var s = 0
          while (s < numHashes) { if (sa(s) == sb(s)) eq += 1; s += 1 }
          val est = eq.toDouble / numHashes
          if (est >= threshold && bandAgrees(sa, sb, band, r)) {
            out += NearDupPair(ws,
              math.min(st.ids(i), st.ids(j)),
              math.max(st.ids(i), st.ids(j)), est)
          }
        }
        j += 1
      }
      i += 1
    }
    out.result().iterator
  }

  /** Whether band `b`'s full slot range agrees between two signatures. */
  private def bandAgrees(sa: Array[Long], sb: Array[Long], b: Int, r: Int): Boolean = {
    var s = b * r
    while (s < (b + 1) * r) { if (sa(s) != sb(s)) return false; s += 1 }
    true
  }

  /** Sampled recall@window observability result — the streaming sibling
    * of [[graft.operators.Similarity.RecallStats]] / Packing's MixStats:
    * `recall = hits / truthPairs`, where truth is exact shingle-set
    * Jaccard ≥ threshold over a deterministic per-window document
    * sample. */
  final case class WindowRecallStats(
      nWindows: Long, sampledDocs: Long, truthPairs: Long, hits: Long,
      recall: Double)

  /** Estimate [[pairsPerWindow]]'s recall in PRODUCTION, where the
    * spec-pinned fixed-corpus guarantees are invisible: per closed
    * window, a deterministic pseudo-random document sample (`xxhash64`
    * rank — the [[graft.operators.Similarity.recallEstimate]] pattern,
    * no RNG nondeterminism across runs) gets brute-force ground truth —
    * exact char-shingle Jaccard over all sample pairs, the quantity the
    * MinHash signature estimates — joined against whatever the stream
    * emitted for those windows. The quadratic term is
    * `sampleDocsPerWindow²` per window, sample-bounded regardless of
    * corpus size; the emitted side is output-sized.
    *
    * `docs` is the corpus the stream read (batch frame: id, text, ts);
    * `emitted` is the stream's collapsed output (`window_start, id_a,
    * id_b` — band multiplicity is collapsed here, extra columns
    * ignored). Rows failing the operator's own shingle-length filter are
    * excluded from truth, as the operator never saw them. Nuance, same
    * as the batch estimator being an estimator not an oracle: with
    * `verify = true` the operator emits only byte-identical pairs, while
    * truth counts set-identical pairs (Jaccard 1 without byte equality)
    * — on corpora where templated docs collide at full shingle set, the
    * verified stream legitimately reads below 1.0 here. */
  def recallEstimate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      emitted: DataFrame,
      windowSeconds: Long,
      shingleK: Int = 5,
      threshold: Double = 0.5,
      sampleDocsPerWindow: Int = 200): WindowRecallStats = {
    require(sampleDocsPerWindow >= 2,
      "sampleDocsPerWindow must allow at least one pair")
    val ts = unix_timestamp(col(tsCol).cast("timestamp"))
    val base = docs
      .filter(col(textCol).isNotNull &&
        octet_length(col(textCol)) >= shingleK)
      .select(col(idCol).cast("long").as("id"),
        (ts - pmod(ts, lit(windowSeconds))).as("ws"),
        graft.functions.TextFunctions.charShingles(col(textCol), shingleK)
          .as("sh"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("ws").orderBy(xxhash64(col("id")), col("id"))
    val sampled = base
      .withColumn("__rk", row_number().over(rk))
      .filter(col("__rk") <= sampleDocsPerWindow)
      .drop("__rk")
    val truth = sampled.as("a")
      .join(sampled.as("b"),
        col("a.ws") === col("b.ws") && col("a.id") < col("b.id"))
      .select(col("a.ws").as("window_start"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        Dedup.ngramJaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= threshold)
    val em = emitted
      .select(col("window_start").cast("long").as("window_start"),
        col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .dropDuplicates("window_start", "id_a", "id_b")
      .withColumn("__hit", lit(1L))
    val row = truth
      .join(em, Seq("window_start", "id_a", "id_b"), "left")
      .agg(count(lit(1)).as("possible"), sum(col("__hit")).as("hits"),
        countDistinct(col("window_start")).as("nw"))
      .head()
    val possible = row.getLong(0)
    val hits = if (row.isNullAt(1)) 0L else row.getLong(1)
    val nDocs = sampled.count()
    WindowRecallStats(row.getLong(2), nDocs, possible, hits,
      if (possible == 0) 1.0 else hits.toDouble / possible)
  }

  /** Batch twin — per-tumbling-window [[Dedup.minhashPairs]] on a static
    * frame, the DuckDB-oracle hook and the spec's equivalence target.
    * Output: (window_start epoch, id_a, id_b, est_jaccard). The distinct
    * window list is collected (one column-pruned scan) to drive one
    * bounded `minhashPairs` plan per window: windows of a batch backfill
    * are calendar-bounded (hours/days), not corpus-bounded — a backfill
    * spanning very many windows should run them as separate jobs. */
  def pairsBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      windowSeconds: Long,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 500,
      verified: Boolean = false
  ): DataFrame = {
    val ts = unix_timestamp(col(tsCol).cast("timestamp"))
    val withWs = docs.withColumn("__ws", ts - pmod(ts, lit(windowSeconds)))
    val windows = withWs.select("__ws").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: calendar windows
    windows.map { w =>
      val win = withWs.filter(col("__ws") === w)
      // verified = the production threshold-1.0 pattern: templated
      // near-identical docs can collide at FULL signature; the fused
      // digest join prunes them to byte-exact pairs (the dedup_minhash
      // lesson). The streaming operator emits unverified candidates —
      // its exact verification is the same downstream digest join.
      val pairs =
        if (verified) Dedup.minhashPairsVerified(win, idCol, textCol,
          shingleK, numHashes, bands, threshold, maxBucket)
        else Dedup.minhashPairs(win, idCol, textCol,
          shingleK, numHashes, bands, threshold, maxBucket)
      pairs.select(lit(w).as("window_start"), col("id_a"), col("id_b"),
        col("est_jaccard"))
    }.reduceOption(_ unionByName _).getOrElse {
      // empty input frame → empty result in the output schema, not an
      // UnsupportedOperationException from reduce() on an empty list
      val spark = docs.sparkSession
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("window_start", LongType),
          StructField("id_a", LongType),
          StructField("id_b", LongType),
          StructField("est_jaccard", DoubleType))))
    }
  }
}
