package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.ScalePolicy
import graft.ScalePolicy.{isSmall, joinSide}
import graft.functions.{MinHash, SimHash, TextFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Exact dedup keeps one deterministic representative per key. Near-dup
  * variants (MinHash-LSH, SimHash) emit verified candidate pairs; at 100 TB
  * only fixed-width sketches shuffle — documents stay where the scan put
  * them.
  */
object Dedup {

  /** Keep the first row per key under `order` — deterministic exact dedup.
    *
    * Hash-first at scale: the window partitions on `xxhash64(keys)`, so the
    * shuffle partition key is 8 bytes even when the dedup key is a
    * megabyte document. The within-partition sort prefix is the hash too —
    * full key columns are compared only between rows whose hashes already
    * collide (i.e. almost exclusively true duplicates). A row survives iff
    * its key tuple differs (null-safely) from the previous row's in the
    * (hash, keys, order) sort — the first row of each key run, which is the
    * minimum under `order` within its key group. */
  def exact(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val h = xxhash64(keys.map(col): _*)
    val kt = struct(keys.map(col): _*)
    val w = Window.partitionBy(h).orderBy(h +: (keys.map(col) ++ order): _*)
    graft.InternalCols.requireAbsent(df, "Dedup.exact", "__kprev")
    df.withColumn("__kprev", lag(kt, 1).over(w))
      .filter(!(col("__kprev") <=> kt))
      .drop("__kprev")
  }

  /** Exact-dup groups: for content dedup at scale, the corpus-wide shuffle
    * moves 8-byte `xxhash64(content)` keys only — documents never enter a
    * corpus-wide exchange. Returns (content hash, ids, n).
    *
    * Shape: (1) group on the hash alone (the only full-corpus shuffle —
    * fixed-width rows); (2) hash groups of size 1 are final groups as-is,
    * no text touched; (3) rows in colliding hash groups (true duplicates
    * plus the ~2^-64-rare false collisions) are re-read via a broadcast of
    * their id list (8 bytes/row) and content-verified by an exact
    * `(h, content)` grouping — so a hash collision can never mis-merge two
    * distinct documents, and the only exchange that carries text is
    * restricted to the colliding rows. The corpus is scanned more than once
    * (scans are cheap, local, columnar); text is shuffled at most once and
    * only for rows that actually collide.
    *
    * `broadcastColliding` picks the restriction transport. `Some(true)`
    * broadcasts the colliding ID LIST (8 bytes/row) — right whenever the
    * duplicate fraction is broadcast-sized, i.e. most corpora most days.
    * For a corpus whose duplicate mass itself is huge (first-ever dedup of
    * a raw crawl: billions of colliding ids would blow the broadcast),
    * `Some(false)`: one direct (hash, content) grouping — the whole corpus
    * text rides one bounded shuffle instead of any driver-sized structure.
    *
    * The default (`None`) AUTO-SELECTS: one extra aggregation job over the
    * 8-byte hashes counts the colliding rows up front, and the broadcast
    * path is taken only when that id list fits comfortably under
    * `spark.sql.autoBroadcastJoinThreshold` — so a first-ever dedup of a
    * duplicate-heavy raw crawl cannot OOM the driver by default, and the
    * caller never has to predict duplicate mass. The probe costs one scan
    * of the hash column (cheap, columnar, no text); at 100 TB that is noise
    * next to either transport. Same output on every path (specced). */
  def exactGroups(
      df: DataFrame,
      id: Column,
      content: Column,
      broadcastColliding: Option[Boolean] = None,
      saltBuckets: Int = 64,
      bigGroupLimit: Long = 65536L): DataFrame = {
    // `salted = true` assembles each group's id list in TWO phases:
    // a bounded per-(h, c, salt) aggregation (salt from xxhash64(id), so
    // no element-wise collect_list buffer exceeds ~group/saltBuckets
    // boxed entries), then a flatten of the ≤ saltBuckets compact unsafe
    // arrays. The OUTPUT row still carries the whole group's ids — that
    // is the operator's contract — but the build never grows a
    // boxed-element buffer of the full group (~4× peak-heap reduction on
    // a degenerate group, plus per-element insertion cost). The common
    // corpus (probe: max group ≤ bigGroupLimit) keeps the original
    // single-phase plan with one fewer exchange.
    def direct(salted: Boolean): DataFrame = {
      val base = df.select(id.as("id"), xxhash64(content).as("h"), content.as("c"))
      if (!salted)
        base.groupBy("h", "c")
          .agg(sort_array(collect_list("id")).as("ids"), count(lit(1)).as("n"))
          .select("h", "ids", "n")
      else
        // per-salt lists stay UNSORTED: nothing reads per-salt order here
        // (unlike collapseByKey, whose salt-min/starPairs need it) and the
        // assembly re-sorts the flattened whole anyway
        base.withColumn("s", pmod(xxhash64(col("id")), lit(saltBuckets)))
          .groupBy("h", "c", "s")
          .agg(collect_list("id").as("sids"), count(lit(1)).as("ns"))
          .groupBy("h", "c")
          .agg(sort_array(flatten(collect_list("sids"))).as("ids"),
            sum("ns").as("n"))
          .select("h", "ids", "n")
    }
    def viaBroadcast(salted: Boolean): DataFrame = {
      // restriction joins on the colliding HASH, not the id: the
      // broadcast is distinct 8-byte hashes (≤ the id list it replaced),
      // and a null-id row in a colliding group stays in the verified
      // count — an id-equality semi-join can never retain it, which made
      // `n` transport-dependent (the "same output on every path" contract)
      if (!salted) {
        val byHash = df.select(id.as("id"), xxhash64(content).as("h"))
          .groupBy("h")
          .agg(sort_array(collect_list("id")).as("ids"), count(lit(1)).as("n"))
        val singles = byHash.filter(col("n") === 1).select("h", "ids", "n")
        val collidingHashes = byHash.filter(col("n") >= 2).select("h")
        val verified = df.select(id.as("id"), xxhash64(content).as("h"), content.as("c"))
          .join(broadcast(collidingHashes), Seq("h"), "left_semi")
          .groupBy("h", "c")
          .agg(sort_array(collect_list("id")).as("ids"), count(lit(1)).as("n"))
          .select("h", "ids", "n")
        singles.unionByName(verified)
      } else {
        // no id list is ever built per bare hash: singles come from a
        // count join (8-byte rows), the verified groups from the
        // two-phase salted assembly over hash-restricted rows
        val hashed = df.select(id.as("id"), xxhash64(content).as("h"))
        val counts = hashed.groupBy("h").agg(count(lit(1)).as("hn"))
        // null ids are dropped from the array, matching collect_list on
        // every other path — the transport choice must not change output
        val singles = hashed.join(counts.filter(col("hn") === 1), Seq("h"))
          .select(col("h"),
            filter(array(col("id")), x => x.isNotNull).as("ids"),
            lit(1L).as("n"))
        val collidingHashes = counts.filter(col("hn") >= 2).select("h")
        val verified = df
          .select(id.as("id"), xxhash64(content).as("h"), content.as("c"))
          .join(broadcast(collidingHashes), Seq("h"), "left_semi")
          .withColumn("s", pmod(xxhash64(col("id")), lit(saltBuckets)))
          .groupBy("h", "c", "s")
          .agg(collect_list("id").as("sids"), count(lit(1)).as("ns"))
          .groupBy("h", "c")
          .agg(sort_array(flatten(collect_list("sids"))).as("ids"),
            sum("ns").as("n"))
          .select("h", "ids", "n")
        singles.unionByName(verified)
      }
    }
    broadcastColliding match {
      case Some(true)  => viaBroadcast(salted = false)
      case Some(false) => direct(salted = false)
      case None =>
        val probe = df
          .select(xxhash64(content).as("h"))
          .groupBy("h").agg(count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L)),
            coalesce(max(col("n")), lit(0L)))
          .head()
        val collidingRows = probe.getLong(0)
        val maxGroup = probe.getLong(1)
        val salted = maxGroup > bigGroupLimit
        val threshold =
          df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        // the broadcast is the distinct colliding HASHES (≤ one 8-byte
        // value per colliding row); 32 bytes/row stays the conservative
        // planning figure once hashed-relation overhead lands
        val chooseBroadcast = threshold > 0 && collidingRows * 32L <= threshold
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"exactGroups auto transport: collidingRows=$collidingRows " +
            s"maxGroup=$maxGroup threshold=$threshold -> " +
            (if (chooseBroadcast) "broadcast-restricted" else "direct grouping") +
            (if (salted) " (salted two-phase assembly)" else ""))
        if (chooseBroadcast) viaBroadcast(salted) else direct(salted)
    }
  }

  /** Fan a frame out to the session's shuffle parallelism ONLY when the
    * scan provides fewer partitions (the single-file test-input case, where
    * AQE would otherwise coalesce the CPU-heavy kernel onto one core). At
    * real scale the input has thousands of splits, the branch is not taken,
    * and the kernel runs inside the scan stage — document text never rides
    * this (or any) exchange. */
  private[graft] def fanOut(df: DataFrame, key: Column): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // probe the executed plan's OWN RDD for the split count (cached on
    // the Dataset's QueryExecution, no job runs) — `df.rdd` would wrap it
    // in an extra row-deserializing stage planned purely for the probe
    // (r21 note, measured and deliberately NOT extended to text: the
    // split count can overstate effective parallelism for low-row-group
    // parquet — a byte-range split only produces rows for row groups
    // whose midpoint falls inside it, so a single-file table caps the
    // kernel at rowgroup-count tasks. The footer-probing variant
    // ([[fanOutDense]]) that repartitions such inputs was benchmarked on
    // the TEXT pipelines at 20×/100×: the raw-text shuffle cost as much
    // wall as the extra kernel parallelism bought — minhash 1.85→2.23 s,
    // spans 5.96→6.58 s at 20× — so text keeps the cheap probe. On real
    // multi-file layouts the split count is honest.)
    if (df.queryExecution.toRdd.getNumPartitions >= parts) df
    else df.repartition(parts, key)
  }

  /** [[fanOut]] for DENSE fixed-width rows (embeddings, PQ codes): also
    * detects the low-row-group parquet case the split count hides — a
    * pure map pipeline (projections/filters/explodes over scans) whose
    * files hold fewer ROW GROUPS than the target parallelism runs all
    * its kernels on the row-group-count tasks, because byte-range splits
    * away from a row-group midpoint are empty (guide §2.5 "input skew:
    * one huge unsplittable file"). For ~300 B/row vector frames the
    * repartition is cheap next to the cosine/ADC kernels it spreads —
    * measured 10.3 → 2.2 s on the 100× quantized top-k (the text
    * pipelines measured the OPPOSITE; see [[fanOut]]'s note, which is
    * why this stays a separate entry point). The footer census is
    * driver-side, bounded by `parts` files, zero jobs; frames already
    * downstream of any exchange, non-parquet inputs, and multi-file
    * layouts all fall through to [[fanOut]]'s behavior. */
  private[graft] def fanOutDense(df: DataFrame, key: Column): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // tiny inputs keep their exchange-free plan (ScalePolicy.DenseFanOutBytes)
    if (isSmall(df, ScalePolicy.DenseFanOutBytes)) return df
    if (df.queryExecution.toRdd.getNumPartitions < parts)
      return df.repartition(parts, key)
    import org.apache.spark.sql.catalyst.plans.logical._
    def mapOnly(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union | _: Generate =>
        p.children.forall(mapOnly)
      case _: LeafNode => true
      case _ => false
    }
    if (!mapOnly(df.queryExecution.optimizedPlan)) return df
    val files = df.inputFiles
    if (files.isEmpty || files.length >= parts ||
        !files.forall(_.endsWith(".parquet"))) return df
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val rowGroups =
      try files.iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), hconf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size() finally r.close()
      }.sum
      catch { case NonFatal(_) => parts } // unreadable footer: assume fine
    if (rowGroups >= parts) df else df.repartition(parts, key)
  }

  /** Materialize a multi-consumer intermediate (sketch/signature/digest
    * frames: read by a probe action AND the main plan) exactly once.
    *
    * Local mode (tests, single-node runs) uses eager `localCheckpoint`:
    * truncated lineage, executor-local blocks — in one JVM there is no
    * executor to lose. On a CLUSTER, localCheckpoint blocks are
    * unreplicated executor-local storage with the lineage cut, so one
    * executor loss mid-job makes the stage unrecoverable; there the frame
    * persists MEMORY_AND_DISK with lineage INTACT — the first action
    * populates the cache while running the kernel once, later consumers
    * read blocks, and a lost block recomputes from lineage instead of
    * failing the job.
    *
    * Lifecycle note for LONG-LIVED cluster drivers: persisted frames stay
    * registered with the CacheManager until unpersisted (unlike
    * localCheckpoint RDDs, which the ContextCleaner reclaims once
    * unreferenced). A driver looping these operators over many corpora
    * should call `spark.catalog.clearCache()` between pipelines after the
    * results materialize — the same discipline `dropNearDuplicates`'
    * `persistInput` documents. */
  private[operators] def materializeOnce(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint(eager = true)
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** MinHash-LSH near-duplicate pairs.
    *
    * docs(idCol, textCol) → verified pairs (id_a < id_b, est_jaccard).
    * Pipeline: distinct char-k-shingles → n-slot signature → collapse to
    * DISTINCT signatures (ids ride along as a list) → equal-signature
    * pairs directly (est 1.0) + b band hashes over distinct signatures →
    * bucket grouping → in-bucket pair expansion between distinct
    * signatures → member-id expansion.
    *
    * Collapsing before banding is the duplicate-crowding guard (the same
    * shape [[simhashPairs]] took from the 20×-scale run, now organic-
    * corpus-proven here too): a boilerplate doc copied a million times
    * lands ONE entry per band bucket instead of a million — per-row
    * banding would blow every one of its buckets past `maxBucket` and
    * silently drop exactly the duplicates being hunted, or OOM the task
    * expanding m(m-1)/2 in-array pairs. Equal-signature groups emit their
    * pairs unconditionally (no bucket cap can lose an exact-duplicate
    * pair), with `maxEqualGroup` star fallback bounding the in-array
    * expansion of one degenerate group (connectivity preserved — see
    * [[simhashPairs]]). `maxBucket` then guards only genuine
    * distinct-signature band crowding. Corpus-wide shuffles carry the
    * fixed-width signature, never text.
    *
    * Deliberately NOT a self-join: joining the banded frame with itself
    * would re-execute the (expensive) signature pipeline once per side.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 500,
      maxEqualGroup: Int = 2000,
      sampleShift: Int = 0
  ): DataFrame =
    minhashCandidates(docs, idCol, textCol, shingleK, numHashes, bands,
      threshold, maxBucket, maxEqualGroup, sampleShift, withDigest = false)._1

  /** [[minhashPairs]] + exact verification FUSED over one corpus scan:
    * the signature checkpoint additionally carries each doc's 32-byte
    * SHA-256, so verification joins the already-materialized digests
    * instead of [[verifyPairsExact]]'s second full text scan + digest
    * materialization — at 100 TB that halves the operator's corpus I/O
    * (one pass computes sketch AND digest), and it was the measured
    * next-biggest stage of the registered dedup query at 100×.
    * Output and semantics are identical to
    * `verifyPairsExact(minhashPairs(...), docs, ...)`. */
  def minhashPairsVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 500,
      maxEqualGroup: Int = 2000,
      sampleShift: Int = 0
  ): DataFrame = {
    val (cand, digests) = minhashCandidates(docs, idCol, textCol, shingleK,
      numHashes, bands, threshold, maxBucket, maxEqualGroup, sampleShift,
      withDigest = true)
    val digs = digests.get
    // SHUFFLE_HASH on the digest sides (r20, guide §3.1): the digest
    // frame is corpus-row-count × ~40 B — per-partition hash-buildable at
    // any scale — while the unhinted planner sort-merge-joined at 100×,
    // sorting the candidate stream twice (once per digest side)
    val a = digs.select(col("id").as("id_a"), col("__dig").as("__dig_a"))
      .hint("shuffle_hash")
    val b = digs.select(col("id").as("id_b"), col("__dig").as("__dig_b"))
      .hint("shuffle_hash")
    cand.join(a, "id_a").join(b, "id_b")
      .filter(col("__dig_a") === col("__dig_b"))
      .select(cand.columns.map(col).toIndexedSeq: _*)
  }

  private def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int,
      maxEqualGroup: Int,
      sampleShift: Int,
      withDigest: Boolean
  ): (DataFrame, Option[DataFrame]) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // Test inputs arrive in few fat splits (one parquet file → one
    // partition); fanOut spreads the CPU-heavy signature stage across the
    // session's parallelism in that case only — at real scale the scan
    // already has thousands of splits and no exchange is added. Signatures
    // come from the fused native expression (byte-window shingling, zero
    // per-shingle allocation) — the composed Column pipeline in
    // graft.functions.MinHash stays available as the pure-API variant.
    //
    // The signature is null exactly when the input is null or shorter than
    // k bytes (MinHashSignature.compute), so filtering on octet_length
    // BEFORE the projection is equivalent to filtering on sig.isNotNull
    // after it — without the latter's catastrophic plan: Catalyst pushes a
    // deterministic sig-based predicate through the repartition into the
    // scan, computing the most expensive kernel in the repo twice per row,
    // once before the fan-out.
    // Signatures are materialized ONCE (localCheckpoint, the same pattern
    // componentsWithStats uses for its edge list): the kernel is the
    // dominant cost of the whole operator, and without the checkpoint it
    // would run once for collapseByKey's heavy-group probe action and
    // again for the main plan — measured +35-55% on the 20x corpus. The
    // checkpointed blocks are fixed-width (id + numHashes longs), never
    // text.
    val sigExpr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("t")),
        shingleK, numHashes, sampleShift)).as("sig")
    val base = fanOut(docs
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(col("t").isNotNull && octet_length(col("t")) >= shingleK),
      col("id"))
    // withDigest (the [[minhashPairsVerified]] fusion): the SAME scan and
    // checkpoint also carry the 32-byte SHA-256 — verification then joins
    // materialized digests, no second pass over the text
    val sigsBase =
      if (withDigest)
        base.select(col("id"), sigExpr, unhex(sha2(col("t"), 256)).as("__dig"))
      else base.select(col("id"), sigExpr)
    // stage mark (StageTimer — no-op unless the bench's diagnostic pass
    // enabled it): the kernel scan + checkpoint is action 1 of 3
    val sigs = graft.StageTimer.timed("minhash.signature_checkpoint")(
      materializeOnce(sigsBase))
    val digests =
      if (withDigest) Some(sigs.select(col("id"), col("__dig"))) else None

    // collapse to distinct signatures BEFORE banding: the only corpus-wide
    // shuffle, keyed on a compact SURROGATE of the signature; duplicate
    // mass becomes list payload instead of bucket crowding, and
    // [[collapseByKey]] salts any group past maxEqualGroup so no
    // aggregation buffer holds a whole degenerate group. Identical
    // signature ⇒ every slot agrees ⇒ est 1.0 (≥ any threshold):
    // intra-group pairs found unconditionally.
    //
    // Surrogate key (r12): grouping on the raw signature made the
    // corpus-wide exchange carry numHashes longs per row (384 B at 48
    // slots) and the aggregation hash-compare whole arrays — measured as
    // the dominant stage of the threshold-1.0 mainline at 100×, over 2×
    // the kernel itself. Two independently-seeded 64-bit hashes of the
    // signature form an effectively collision-free 128-bit key: the
    // exchange carries 16 B + id per row (~16× less) and the hash map
    // compares two longs. The banding branch recovers real signatures
    // via the k-rejoin below (distinct-sized, lazy — never executed at
    // threshold 1.0). A cross-signature surrogate collision is
    // ~n²/2^129 — far below the sketch's own collision floor, and the
    // dedup callers verify every candidate byte-exactly downstream.
    def surrogate(sig: Column): Column = struct(
      xxhash64(sig).as("h1"), xxhash64(lit(0x9E3779B97F4A7C15L), sig).as("h2"))
    val keyed = sigs.select(surrogate(col("sig")).as("k"), col("id"))
    val (bySigK, equalIdPairs, _) = collapseByKey(keyed, maxEqualGroup)
    val sigByK = sigs.select(surrogate(col("sig")).as("k"), col("sig"))
      .dropDuplicates("k")
    val bySig = bySigK.join(sigByK, "k").select(col("sig"), col("ids"))
    val equalPairs = equalIdPairs
      .select(col("id_a"), col("id_b"), lit(1.0).as("est_jaccard"))

    // band buckets over DISTINCT signatures; cross-signature candidate
    // scoring stays an in-array expression (est < 1.0 by construction —
    // distinct signatures disagree in at least one slot — so these never
    // duplicate equalPairs), then expansion to member-id pairs
    val banded = bySig
      .select(col("sig"), col("ids"),
        posexplode(MinHash.bandHashes(col("sig"), bands, r)).as(Seq("band", "bh")))

    val crossPairs = banded
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("sig"), col("ids"))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        filter(
          transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
            struct(x.getField("ids").as("ids_a"), y.getField("ids").as("ids_b"),
              MinHash.estJaccard(x.getField("sig"), y.getField("sig"))
                .as("est"))),
          s => s.getField("est") >= threshold)))).as("sp"))
      .select(explode(col("sp.ids_a")).as("ia"), col("sp.ids_b"), col("sp.est"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("est"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("est").as("est_jaccard"))

    // Distinct signatures disagree in >= 1 slot, so a cross-signature
    // candidate's est is at most (numHashes-1)/numHashes: any threshold
    // above that makes the banding branch PROVABLY empty. Skip it — the
    // exact-duplicate mainline (threshold = 1.0, what the dedup queries
    // and the curation pipeline run) then pays only the signature
    // collapse, not a band shuffle that replicates every distinct
    // signature `bands` times to produce zero pairs. equalPairs needs no
    // dedup on its own: signature groups are disjoint and intra-group
    // pairs are unique, so the cross-branch merge groupBy goes too.
    val out =
      if (threshold * numHashes > numHashes - 1) equalPairs
      else equalPairs.unionByName(crossPairs)
        .groupBy("id_a", "id_b")
        .agg(max("est_jaccard").as("est_jaccard"))
    (out, digests)
  }

  private def allPairsOf(byKey: DataFrame): DataFrame = byKey
    .filter(size(col("ids")) >= 2)
    .select(col("k"), explode(idPairs(col("ids"))).as("p"))
    .select(col("k"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))

  /** Distinct-key collapse of a `(k, id)` frame with the degenerate-group
    * guard (shared by the sketch deduppers and, via
    * `Similarity.collapseByVector`, the embedding family — `xxhash64`
    * normalizes -0.0/NaN exactly as `groupBy` keys do, so the probe and
    * the grouping always agree on group membership). Returns (entries
    * `(k, ids)` for downstream banding, equal-key pairs
    * `(k, id_a, id_b)` — the group-internal candidate edges, carrying the
    * key so callers can score the pair — and the total row count, read
    * from the probe so callers needing corpus size pay no extra job).
    *
    * Common corpora (probe over `xxhash64(k)` finds no group past
    * `maxEqualGroup`) keep the original single-aggregation plan with
    * exact all-pairs semantics. A heavier group aggregates per
    * `(k, salt)` — no `collect_list` buffer holds a whole degenerate
    * group — emits per-salt stars chained through the group minimum (a
    * spanning tree: n-1 edges, same connectivity the whole-list star
    * fallback provided), and enters downstream band buckets as ONE
    * representative-id entry. Hash-collision misroutes re-assemble
    * exactly, bounded by `maxEqualGroup`. */
  private[operators] def collapseByKey(
      keyed: DataFrame,
      maxEqualGroup: Int,
      saltBuckets: Int = 64
  ): (DataFrame, DataFrame, Long) = {
    // one probe action yields the total row count AND the heavy hash keys
    // themselves (≤ total/maxEqualGroup entries — 4 MB of longs per 10⁹
    // rows at the default 2000 — so the collect_list buffer is bounded),
    // sparing the heavy branch a second corpus-wide aggregation pass
    val probe = graft.StageTimer.timed("collapse.probe")(keyed
      .groupBy(xxhash64(col("k")).as("hk"))
      .agg(count(lit(1)).as("hn"))
      .agg(
        coalesce(sum(col("hn")), lit(0L)),
        collect_list(when(col("hn") > maxEqualGroup, col("hk"))))
      .head())
    val total = probe.getLong(0)
    val heavyHks = probe.getSeq[Long](1)
    val anyHeavy = heavyHks.nonEmpty

    if (!anyHeavy) {
      // no group past maxEqualGroup: one aggregation, exact all-pairs
      val byKey = keyed.groupBy("k")
        .agg(sort_array(collect_list("id")).as("ids"))
      (byKey, allPairsOf(byKey), total)
    } else {
      import keyed.sparkSession.implicits._
      val heavyKeys = heavyHks.toDF("hk")
      val tagged = keyed.join(broadcast(heavyKeys),
        xxhash64(col("k")) === col("hk"), "left")
      val lightByKey = tagged.filter(col("hk").isNull)
        .groupBy("k").agg(sort_array(collect_list("id")).as("ids"))
      val bySalt = tagged.filter(col("hk").isNotNull)
        .select(col("id"), col("k"),
          pmod(xxhash64(col("id")), lit(saltBuckets)).as("s"))
        .groupBy("k", "s")
        .agg(sort_array(collect_list("id")).as("sids"), count(lit(1)).as("ns"))
      val wK = Window.partitionBy("k")
      val sized = bySalt
        .withColumn("n", sum("ns").over(wK))
        .withColumn("gmin", min(element_at(col("sids"), 1)).over(wK))
      val smallHeavy = sized.filter(col("n") <= maxEqualGroup)
        .groupBy("k")
        .agg(sort_array(flatten(collect_list(col("sids")))).as("ids"))
      val bigHeavy = sized.filter(col("n") > maxEqualGroup)

      val exactSide = lightByKey.unionByName(smallHeavy)
      val heavyPairs = bigHeavy
        .select(col("k"), explode(concat(
          starPairs(col("sids")),
          filter(
            array(struct(col("gmin").as("id_a"),
              element_at(col("sids"), 1).as("id_b"))),
            e => e.getField("id_a") =!= e.getField("id_b")))).as("p"))
        .select(col("k"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))

      val entries = exactSide
        .unionByName(bigHeavy.groupBy("k").agg(min("gmin").as("m"))
          .select(col("k"), array(col("m")).as("ids")))
      (entries, allPairsOf(exactSide).unionByName(heavyPairs), total)
    }
  }

  /** All unordered (i<j) pairs of a sorted id array as (id_a, id_b). */
  private[operators] def idPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Star pairs of a sorted id array: (min id, other) for every other
    * member — m-1 pairs instead of m(m-1)/2, same connectivity. */
  private[operators] def starPairs(ids: Column): Column =
    transform(slice(ids, lit(2), greatest(size(ids) - 1, lit(0))),
      y => struct(element_at(ids, 1).as("id_a"), y.as("id_b")))

  /** SimHash near-duplicate pairs: sketch → collapse to DISTINCT sketches →
    * equal-sketch pairs directly (hamming 0) + 16-bit band buckets over
    * distinct sketches for the 1..maxHamming candidates.
    *
    * Collapsing before banding is what survives a duplicate-heavy corpus —
    * the corpus dedup exists for: a million copies of one boilerplate doc
    * occupy ONE bucket entry (their ids ride along as a list), where
    * per-row bucketing would blow every one of their 16-bit band buckets
    * past any cap and silently drop the very duplicates being hunted
    * (caught by the 20× robustness run). `maxBucket` then guards
    * distinct-sketch crowding only — genuine 16-bit-key saturation at
    * extreme corpus sizes, orders of magnitude rarer than duplicate mass —
    * and `maxEqualGroup` bounds the in-array all-pairs expansion of one
    * equal-sketch group (star fallback beyond it, connectivity preserved).
    * Corpus-wide shuffles carry the 8-byte sketch, never text. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6,
      maxBucket: Int = 500,
      maxEqualGroup: Int = 2000
  ): DataFrame =
    simhashCandidates(docs, idCol, textCol, maxHamming, maxBucket,
      maxEqualGroup, withDigest = false)._1

  /** [[simhashPairs]] + exact verification FUSED over one corpus scan —
    * the SimHash sibling of [[minhashPairsVerified]]: the sketch
    * checkpoint also carries the 32-byte SHA-256, verification joins the
    * shared materialization instead of a second full text pass. Output
    * identical to `verifyPairsExact(simhashPairs(...), docs, ...)`
    * (null-text docs sketch to a common group but carry null digests, so
    * the digest equality prunes them — exactly as verifyPairsExact's
    * null-safe-free `===` did). */
  def simhashPairsVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6,
      maxBucket: Int = 500,
      maxEqualGroup: Int = 2000
  ): DataFrame = {
    val (cand, digests) = simhashCandidates(docs, idCol, textCol, maxHamming,
      maxBucket, maxEqualGroup, withDigest = true)
    val digs = digests.get
    // SHUFFLE_HASH on the digest sides — same rationale as
    // [[minhashPairsVerified]] (the unhinted plan sorted the candidate
    // stream twice at 100×)
    val a = digs.select(col("id").as("id_a"), col("__dig").as("__dig_a"))
      .hint("shuffle_hash")
    val b = digs.select(col("id").as("id_b"), col("__dig").as("__dig_b"))
      .hint("shuffle_hash")
    cand.join(a, "id_a").join(b, "id_b")
      .filter(col("__dig_a") === col("__dig_b"))
      .select(cand.columns.map(col).toIndexedSeq: _*)
  }

  private def simhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      maxBucket: Int,
      maxEqualGroup: Int,
      withDigest: Boolean
  ): (DataFrame, Option[DataFrame]) = {
    // Sketch with the native one-pass expression (provably equal to the
    // composed SimHash.simhash(wsTokens(..)) — see SimHash64Spec).
    // materialized once for the same reason as minhashPairs' signatures:
    // the probe action must not re-run the sketch kernel
    val shExpr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.SimHash64(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("t")))).as("sh")
    val base = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("t")),
      col("id"))
    val sketchedBase =
      if (withDigest)
        base.select(col("id"), shExpr, unhex(sha2(col("t"), 256)).as("__dig"))
      else base.select(col("id"), shExpr)
    val sketched = materializeOnce(sketchedBase)
    val digests =
      if (withDigest) Some(sketched.select(col("id"), col("__dig"))) else None

    // hamming 0 ≡ identical sketch: every intra-group (i<j) pair, found
    // unconditionally — no bucket cap can lose an exact-duplicate pair.
    // [[collapseByKey]] bounds a degenerate group's aggregation buffers
    // (salted assembly) and thins its exhaustive pair list to a spanning
    // tree — components/removal results identical, and only beyond a
    // group size no exhaustive list could be consumed at anyway.
    val keyedSk = sketched.select(col("sh").as("k"), col("id"))
    val (bySketchK, zeroIdPairs, _) = collapseByKey(keyedSk, maxEqualGroup)
    val bySketch = bySketchK.select(col("k").as("sh"), col("ids"))
    val zeroPairs = zeroIdPairs
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))

    if (maxHamming <= 0) (zeroPairs, digests)
    else {
      val banded = bySketch.select(col("sh"), col("ids"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"), SimHash.bandKey(col("sh"), j).as("key"))): _*))
          .as("bk"))
        .select(col("sh"), col("ids"), col("bk.band"), col("bk.key"))

      // distinct-sketch pairs sharing a band, hamming-filtered inside the
      // array expression, then expanded to member-id pairs
      val crossPairs = banded
        .groupBy("band", "key")
        .agg(collect_list(struct(col("sh"), col("ids"))).as("xs"))
        .filter(size(col("xs")).between(2, maxBucket))
        .select(explode(flatten(transform(col("xs"), (x, i) =>
          filter(
            transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
              struct(x.getField("ids").as("ids_a"), y.getField("ids").as("ids_b"),
                SimHash.hamming(x.getField("sh"), y.getField("sh"))
                  .cast("int").as("h"))),
            s => s.getField("h") <= maxHamming)))).as("sp"))
        .select(explode(col("sp.ids_a")).as("ia"), col("sp.ids_b"), col("sp.h"))
        .select(col("ia"), explode(col("ids_b")).as("ib"), col("h"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"),
          col("h").as("hamming"))

      (zeroPairs.unionByName(crossPairs)
        .groupBy("id_a", "id_b")
        .agg(min("hamming").as("hamming")), digests)
    }
  }

  /** Incremental exact dedup: drop rows of `batch` whose content already
    * exists in `corpus` — the daily-ingest primitive (dedupe the new crawl
    * against the existing 100 TB corpus without re-deduping the corpus).
    *
    * No shuffle exchange in this plan ever carries document text — the
    * property a daily run over a 100 TB corpus lives or dies by:
    * (1) the batch's distinct content hashes (8 bytes/doc, batch-sized)
    * broadcast against the corpus, so the corpus is *filtered in place* to
    * the rows whose hash matches some batch row — candidate known content,
    * a batch-scale set; (2) those candidate rows (hash + text) broadcast
    * back against the batch for a `left_anti` join keyed on
    * `(hash, content)`. The content column in the anti-join key guarantees
    * a hash collision can never drop a genuinely-new document; equal text
    * implies equal hash, so every corpus row that could match a batch row
    * is in the candidate set — same no-false-drop, no-false-keep semantics
    * as an unrestricted `(hash, content)` anti join. Corpus text moves
    * only for hash-colliding rows: once through the restricted distinct's
    * exchange (which collapses duplicate corpus occurrences BEFORE the
    * broadcast — a corpus holding a million copies of one matching doc
    * must broadcast one row, not a million) and once in the broadcast of
    * the distinct candidate set. */
  def dropKnown(batch: DataFrame, corpus: DataFrame, textCol: String): DataFrame = {
    val candHashes = batch.select(xxhash64(col(textCol)).as("__bh")).distinct()
    val knownColliding = corpus
      .join(broadcast(candHashes), xxhash64(corpus(textCol)) === col("__bh"),
        "left_semi")
      .select(xxhash64(col(textCol)).as("__h"), col(textCol).as("__t"))
      .distinct()
    batch.join(broadcast(knownColliding),
      xxhash64(batch(textCol)) === col("__h") && batch(textCol) === col("__t"),
      "left_anti")
  }

  /** Exact content verification of candidate pairs: keep only pairs whose
    * documents have identical content. The step a production dedup
    * pipeline runs between LSH candidate generation and any destructive
    * action — sketch agreement (even a full signature match) is
    * probabilistic; only content equality proves an exact duplicate.
    *
    * Verification compares 32-byte SHA-256 content digests, not the text:
    * in a duplicate-heavy corpus the candidate ids cover most documents,
    * so a text-bearing verification join would shuffle essentially the
    * whole corpus twice — the anti-pattern every other exchange in this
    * file is shaped to avoid, and the dominant cost of the minhash/simhash
    * pipelines at the 100× scale before this change. Digest equality is
    * content equality up to a SHA-256 collision (none is known; the
    * birthday bound for a 10⁹-document corpus is ~2⁻⁹⁷) — the same
    * content-hash standard the streaming dedup state already uses, two
    * orders stronger. `byteExact = true` restores the raw byte-comparison
    * joins for callers that must rule even that out.
    *
    * The digest pass is an eager fixed cost (one full text scan + SHA +
    * materialization before the verification join can start). It took
    * ~2.4 s off the 100× minhash minimum; the lazy byte-comparison plan
    * that small corpora used to keep measured within noise of it on the
    * benchmark's 6k-doc corpus, so every corpus takes the digest path. */
  def verifyPairsExact(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byteExact: Boolean = false): DataFrame = {
    // digests materialize ONCE (id + 32 bytes per doc — ~40 MB per 10⁶
    // docs): both join sides read the materialized blocks, so the text
    // scan and the SHA pass run once, not per side. byteExact keeps the
    // lazy double-scan — materializing full text would defeat the point.
    val keyed =
      if (byteExact) docs.select(col(idCol).as("__vid"), col(textCol).as("__k"))
      else materializeOnce(docs.select(col(idCol).as("__vid"),
        sha2(col(textCol).cast("string"), 256).as("__k")))
    // SHUFFLE_HASH on the digest path: same digest-join shape as
    // [[minhashPairsVerified]] — the keyed side is corpus-row-count-
    // bounded 32-byte digests, the pair stream stays unsorted; the
    // byte-exact text path keeps the planner's choice
    val side = joinSide(byteExact)
    val a = side(keyed.select(col("__vid").as("id_a"), col("__k").as("__k_a")))
    val b = side(keyed.select(col("__vid").as("id_b"), col("__k").as("__k_b")))
    pairs.join(a, "id_a").join(b, "id_b")
      .filter(col("__k_a") === col("__k_b"))
      .select(pairs.columns.map(col).toIndexedSeq: _*)
  }

  /** Connected components over an undirected pair list by label
    * propagation: every node's label converges to the smallest id in its
    * component. Near-dup components are tiny (pairs/short chains), so the
    * loop converges in a few iterations; `maxIters` bounds pathological
    * chains. Each iteration is one self-contained shuffle round — no
    * driver-side data, only a convergence check.
    *
    * `reliableCheckpoint = false` (the default, right for tests and small
    * jobs) truncates lineage with `localCheckpoint`: blocks live in
    * executor storage, so on a large cluster losing ONE executor mid-loop
    * loses blocks whose lineage was truncated — the job fails with no
    * recovery path. For long runs on real clusters pass
    * `reliableCheckpoint = true` (and set
    * `spark.sparkContext.setCheckpointDir` to replicated storage — HDFS /
    * object store): `Dataset.checkpoint` writes the iteration state there,
    * so executor loss only recomputes tasks, never the job. */
  def components(
      pairs: DataFrame,
      maxIters: Int = 10,
      reliableCheckpoint: Boolean = false,
      failOnNonConvergence: Boolean = false): DataFrame = {
    val (labels, stats) = componentsWithStats(pairs, maxIters, reliableCheckpoint)
    enforceConvergence(stats, maxIters, failOnNonConvergence)
    labels
  }

  /** The shared non-convergence policy: throw or warn, caller's choice. */
  private[operators] def enforceConvergence(
      stats: ComponentsStats,
      maxIters: Int,
      failOnNonConvergence: Boolean): Unit =
    if (!stats.converged) {
      val msg = s"components: labels still changing after maxIters=$maxIters " +
        "— components with chains longer than the iteration budget may be " +
        "under-merged; raise maxIters for this corpus"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }

  /** Convergence telemetry for [[components]]: how many label-propagation
    * rounds ran, and whether the last one changed nothing. A 100 TB run
    * must be able to fail loudly instead of silently shipping under-merged
    * components — the loop is eager (one convergence probe per round), so
    * the stats are exact at return time, not an estimate. */
  final case class ComponentsStats(iterations: Int, converged: Boolean)

  /** [[components]] plus its [[ComponentsStats]]; never warns or throws —
    * the caller owns the non-convergence policy.
    *
    * Scale-adaptive: an edge list at or below
    * `ScalePolicy.DriverGraphEdges` rows (after direction doubling) with
    * long/int/string ids is solved EXACTLY on the driver — union-find over the already-materialized
    * edges, the same bounded-collect pattern as the IVF centroid pulls.
    * A dedup run's pair graph is almost always tiny next to its corpus
    * (the duplicates ARE the graph), so the common case pays one collect
    * instead of per-iteration checkpoint + convergence-probe jobs, has NO
    * iteration cap to under-merge long chains, and reports
    * `iterations = 0, converged = true`. Graphs past the limit (or with
    * exotic id types) run the distributed label-propagation loop
    * unchanged. String minima use unsigned UTF-8 byte order, matching
    * Spark's `min`/`least` on strings, so the driver labels are
    * bit-identical to the loop's. */
  def componentsWithStats(
      pairs: DataFrame,
      maxIters: Int = 10,
      reliableCheckpoint: Boolean = false): (DataFrame, ComponentsStats) = {
    def materialize(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // Materialize the edge list once: the iteration joins against it every
    // round and would otherwise re-execute the (expensive) upstream
    // pair-generation lineage per iteration.
    val edges = materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))

    val idType = edges.schema("src").dataType
    val driverSolvable = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (driverSolvable && ScalePolicy.driverGraph(edges))
      return (driverComponents(edges, idType), ComponentsStats(0, converged = true))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2"))
        .agg(min("label").as("nlabel"))
      // carry the old label through the update so the convergence probe is
      // a filter on the checkpointed frame, not another join; checkpoint
      // BEFORE the probe so it reads materialized data
      val updated = materialize(
        labels.join(neighborMin, labels("id") === col("id2"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")))
      val changed =
        updated.filter(col("label") =!= col("__old")).limit(1).count()
      labels = updated.drop("__old")
      converged = changed == 0
      i += 1
    }
    (labels, ComponentsStats(i, converged))
  }

  /** Exact driver-side connected components over a small materialized
    * edge list: union-find with path compression, component label = min
    * member (longs numerically; strings by unsigned UTF-8 byte order —
    * Spark's own string ordering). An edge with one null endpoint keeps
    * its non-null node as an isolated self-labeled row (what the loop's
    * never-matching join produces); only the null node itself is omitted
    * — it can never merge or become a loser either way.
    *
    * Integral ids take [[driverComponentsPrimitive]] — a typed tuple
    * collect plus primitive arrays. String ids dictionary-encode to
    * dense longs in sorted (unsigned UTF-8 byte) order, so the SAME
    * primitive solver runs and code-minimum ≡ string-minimum — the old
    * boxed-Row fallback (one `Row[Any]` + HashMap entry per edge) is
    * gone. */
  private def driverComponents(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = idType match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType =>
      driverComponentsPrimitive(edges, idType)
    case org.apache.spark.sql.types.StringType =>
      driverComponentsString(edges)
    case other => throw new IllegalArgumentException(
      s"driver components: unsupported id type ${other.simpleString}")
  }

  /** Open-addressed long→int map (linear probing, power-of-2 capacity) —
    * the node index for [[driverComponentsPrimitive]] without a boxed
    * `HashMap[Long, Integer]` entry per node. */
  private final class LongIntIndex(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2 - 1) << 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var vals = new Array[Int](cap)
    private var n = 0

    private def slot(k: Long): Int = {
      // finalizer from splitmix64 — avalanches sequential ids
      var x = k
      x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
      x ^= x >>> 27; x *= 0x94d049bb133111ebL
      x ^= x >>> 31
      (x & (cap - 1)).toInt
    }

    private def grow(): Unit = {
      val ok = keys; val ou = used; val ov = vals
      cap <<= 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap)
      vals = new Array[Int](cap)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) {
          var s = slot(ok(i))
          while (used(s)) s = (s + 1) & (cap - 1)
          keys(s) = ok(i); used(s) = true; vals(s) = ov(i)
        }
        i += 1
      }
    }

    /** Index of `k`, inserting `insertValue` when absent. */
    def getOrInsert(k: Long, insertValue: Int): Int = {
      if (n * 10 >= cap * 7) grow()
      var s = slot(k)
      while (used(s)) {
        if (keys(s) == k) return vals(s)
        s = (s + 1) & (cap - 1)
      }
      keys(s) = k; used(s) = true; vals(s) = insertValue
      n += 1
      insertValue
    }
  }

  /** The shared primitive solver core for [[driverComponents]]: union-find
    * with path compression over long-encoded edges, everything in
    * primitive arrays — nodes, parents, per-root minima; NO boxed rows
    * (typed `(Long, Long)` tuples are ~24 B/edge transiently vs ~100+ B
    * for `Row[Any]` with boxed endpoints). Measured on the
    * DriverComponentsScaleSpec graph (875k pairs → 1.75M directed edges,
    * 1M nodes): 243 MB RETAINED across the call (post-GC delta, dominated
    * by the returned 1M-row LocalRelation — the output, not the solver);
    * the solver's own structures are ~30 MB (nodes + parents + index).
    * Labels = per-component minimum; returns (nodes in first-seen order,
    * label per node). */
  private def solveLongEdges(full: Array[(Long, Long)]): (Array[Long], Array[Long]) = {
    var nodes = new Array[Long](1024)
    var parent = new Array[Int](1024)
    var n = 0
    val index = new LongIntIndex(1024)
    def idx(v: Long): Int = {
      val i = index.getOrInsert(v, n)
      if (i == n) {
        if (n == nodes.length) {
          nodes = java.util.Arrays.copyOf(nodes, n << 1)
          parent = java.util.Arrays.copyOf(parent, n << 1)
        }
        nodes(n) = v; parent(n) = n; n += 1
      }
      i
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    var e = 0
    while (e < full.length) {
      val ra = find(idx(full(e)._1))
      val rb = find(idx(full(e)._2))
      if (ra != rb) parent(rb) = ra
      e += 1
    }

    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (nodes(i) < minOf(r)) minOf(r) = nodes(i)
      i += 1
    }
    val labels = new Array[Long](n)
    i = 0
    while (i < n) {
      labels(i) = minOf(find(i))
      i += 1
    }
    (java.util.Arrays.copyOf(nodes, n), labels)
  }

  private def driverComponentsPrimitive(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ONE collect job over the edge blocks: a both-non-null edge passes
    // through as (src, dst); an edge with one null endpoint collapses to a
    // self-edge on its non-null node — the union is a no-op but the index
    // insert registers the isolated node (see driverComponents doc); a
    // both-null edge coalesces to (null, null) and is dropped
    val asLong = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val full = asLong
      .select(coalesce(col("src"), col("dst")).as("a"),
        coalesce(col("dst"), col("src")).as("b"))
      .filter(col("a").isNotNull)
      .as[(Long, Long)].collect()

    val (nodes, labels) = solveLongEdges(full)
    val out = Array.tabulate(nodes.length)(i => (nodes(i), labels(i)))
    val df = spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("id", "label")
    if (idType == org.apache.spark.sql.types.IntegerType)
      df.select(col("id").cast("int"), col("label").cast("int"))
    else df
  }

  /** [[driverComponents]] for string ids, through the SAME primitive
    * solver: the distinct strings dictionary-encode to dense longs in
    * sorted order — unsigned UTF-8 byte comparison, exactly Spark's
    * `min`/`least` string order — so the solver's numeric component
    * minimum IS the string minimum and the union-find never touches an
    * object. The only per-string heap cost is the dictionary itself
    * (unavoidable: the values are strings). */
  private def driverComponentsString(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val full = edges
      .select(coalesce(col("src"), col("dst")).as("a"),
        coalesce(col("dst"), col("src")).as("b"))
      .filter(col("a").isNotNull)
      .as[(String, String)].collect()

    // dense dictionary in Spark's string order (unsigned UTF-8 bytes,
    // shorter-prefix-first — UTF8String.compareTo semantics)
    val dict = {
      val distinct = new java.util.HashSet[String]()
      full.foreach { case (a, b) => distinct.add(a); distinct.add(b) }
      val arr = distinct.toArray(new Array[String](distinct.size))
      java.util.Arrays.sort(arr, new java.util.Comparator[String] {
        override def compare(x: String, y: String): Int = {
          val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          while (i < a.length && i < b.length) {
            val d = (a(i) & 0xff) - (b(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          a.length - b.length
        }
      })
      arr
    }
    val code = new java.util.HashMap[String, java.lang.Long](dict.length * 2)
    var i = 0
    while (i < dict.length) {
      code.put(dict(i), java.lang.Long.valueOf(i.toLong))
      i += 1
    }

    val encoded = full.map { case (a, b) =>
      (code.get(a).longValue(), code.get(b).longValue())
    }
    val (nodes, labels) = solveLongEdges(encoded)
    val out = Array.tabulate(nodes.length)(j =>
      (dict(nodes(j).toInt), dict(labels(j).toInt)))
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("id", "label")
  }

  /** End-to-end near-duplicate REMOVAL: MinHash-LSH candidate pairs →
    * connected components → keep only the smallest-id member of each
    * component. This is the operator a training-data pipeline actually
    * runs; [[minhashPairs]] is its observable intermediate.
    *
    * The input is consumed by SEVERAL actions (signature pipeline, exact
    * verification joins, the components edge materialization, the final
    * anti join): when `docs` is itself an expensive lineage — a gated,
    * normalized, pre-deduped corpus, the curation-pipeline case — every
    * action re-runs that lineage from the scan up. `persistInput = true`
    * caches it MEMORY_AND_DISK for the operator's lifetime (disk-backed,
    * so a corpus bigger than cluster memory spills instead of failing;
    * the cached frame stays registered because the returned plan still
    * reads it — `spark.catalog.clearCache()` reclaims it after the
    * pipeline materializes). Leave false when `docs` is a plain scan:
    * re-reading columnar parquet is cheaper than caching it. */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      verifyExact: Boolean = false,
      reliableCheckpoint: Boolean = false,
      failOnNonConvergence: Boolean = false,
      persistInput: Boolean = false
  ): DataFrame =
    dropNearDuplicatesWithStats(docs, idCol, textCol, shingleK, numHashes,
      bands, threshold, verifyExact, reliableCheckpoint,
      failOnNonConvergence, persistInput)._1

  /** [[dropNearDuplicates]] plus the label-propagation
    * [[ComponentsStats]] — the component loop is eager, so the stats are
    * exact when this returns even though the survivor frame is still
    * lazy. The operator a 100 TB run should call: the run can assert
    * `stats.converged` (or log `stats.iterations`) instead of trusting a
    * warning buried in executor logs. */
  def dropNearDuplicatesWithStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      verifyExact: Boolean = false,
      reliableCheckpoint: Boolean = false,
      failOnNonConvergence: Boolean = false,
      persistInput: Boolean = false,
      maxIters: Int = 10
  ): (DataFrame, ComponentsStats) = {
    val in =
      if (persistInput)
        docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docs
    // Above the cross-signature est ceiling (see minhashPairs) the
    // candidate graph is a disjoint union of CLIQUES — signature-equality
    // groups; with verifyExact, text-equality groups (equal text implies
    // equal signature, so verification splits a colliding sig group into
    // text classes) — and the connected components of cliques are the
    // cliques themselves: each one's survivor is its min id. The
    // label-propagation loop (a checkpointed shuffle round plus a
    // convergence probe per iteration) reduces to ONE aggregation:
    // exactGroups' hash-grouped, collision-verified text classes
    // (text moves only for hash-colliding rows) or the fixed-width
    // signature collapse. Rows without a signature (null text, shorter
    // than shingleK bytes) never enter the candidate graph and always
    // survive — both paths. Stats report iterations = 0: no propagation
    // ran, trivially converged.
    //
    // (One behavioral corner, fast path vs loop: a signature group past
    // maxEqualGroup whose members hold SEVERAL distinct texts — a sketch
    // collision inside a star-fallback group, ~2^-45-rare per slot
    // family. The loop's star edges verify only against the hub, leaving
    // hub-unequal members unpaired; the fast path dedups each text class
    // exactly. The fast path's semantics is the stronger guarantee and
    // matches the operator's contract — "equal modulo nothing" — so it is
    // the one specced.)
    val exactOnly = threshold * numHashes > numHashes - 1
    if (exactOnly) {
      val eligible = col(textCol).isNotNull &&
        octet_length(col(textCol)) >= shingleK
      // array_distinct before dropping the min: a duplicated id inside a
      // group (two rows sharing an id — a corpus glitch) must not put the
      // min id itself into the loser list and silently delete EVERY row
      // of that document; the loop path never drops a node equal to its
      // own label, and neither may this. ids arrive sorted, and
      // array_distinct preserves order, so element 1 stays the min.
      def losersOf(ids: Column): Column = {
        val uniq = array_distinct(ids)
        explode(slice(uniq, lit(2), size(uniq) - 1))
      }
      // zero-job scale gate for the VERIFIED branch (r21, verdict #4;
      // ScalePolicy.DigestBytes, for the reason given there). Below the
      // gate the byte-exact (h, content) grouping stays — broadcast-
      // regime plans, text verified byte for byte. Above it content
      // equality is decided by the 32-byte SHA-256 digest — the SAME
      // stand-in [[verifyPairsExact]] and [[minhashPairsVerified]]
      // use — so the corpus
      // text never rides a shuffle at all: the grouping exchanges
      // (id, 32 B) rows where exactGroups' direct path shuffled full
      // text for every colliding row (at dedup_drop's 20× tier EVERY
      // row collides — the whole corpus text was exchanged, the
      // driver-flagged 2.1× regression).
      val smallVerify = isSmall(
        in.select(col(idCol), col(textCol)), ScalePolicy.DigestBytes)
      val losers =
        if (verifyExact && smallVerify)
          exactGroups(in.filter(eligible), col(idCol), col(textCol))
            .filter(col("n") >= 2)
            .select(losersOf(col("ids")).as("__loser"))
        else if (verifyExact) {
          // digest twin of the signature branch below: min/count partial
          // aggregation (no per-group id list), digest-keyed join marks
          // rows above their group minimum; a duplicated id equal to the
          // min keeps all its rows, as losersOf's array_distinct did
          val digs = fanOut(in.filter(eligible)
            .select(col(idCol).as("__id"), col(textCol).as("__t")),
            col("__id"))
            .select(col("__id"), unhex(sha2(col("__t"), 256)).as("__dig"))
            .transform(materializeOnce)
          val mins = digs.groupBy("__dig")
            .agg(min(col("__id")).as("__minid"), count(lit(1)).as("__n"))
            .filter(col("__n") >= 2)
          // SHUFFLE_HASH: the min side is dup-class-sized (≤ one row per
          // distinct duplicated content) — hash-buildable per partition;
          // unhinted the planner sort-merge-joined the digest stream
          digs.join(mins.hint("shuffle_hash"), Seq("__dig"))
            .filter(col("__id") =!= col("__minid"))
            .select(col("__id").as("__loser"))
        } else {
          import org.apache.spark.sql.graft.ColumnBridge
          val sig = ColumnBridge.column(
            graft.functions.expressions.MinHashSignature(
              ColumnBridge.expression(col("__t")), shingleK, numHashes))
          // no id list is ever built per signature: min/count partial-
          // aggregate (a degenerate 10M-copy group previously grew one
          // 10M-element collect_list buffer on a single task — the exact
          // blowup the salted paths elsewhere exist to prevent), then a
          // sig-keyed join marks every row above its group minimum. A
          // duplicated id equal to the min keeps all its rows, as
          // losersOf's array_distinct guard did.
          val sigs = fanOut(in.filter(eligible)
            .select(col(idCol).as("__id"), col(textCol).as("__t")), col("__id"))
            .select(col("__id"), sig.as("__sig"))
            .transform(materializeOnce)
          val mins = sigs.groupBy("__sig")
            .agg(min(col("__id")).as("__minid"), count(lit(1)).as("__n"))
            .filter(col("__n") >= 2)
          sigs.join(mins, Seq("__sig"))
            .filter(col("__id") =!= col("__minid"))
            .select(col("__id").as("__loser"))
        }
      return (in.join(losers, in(idCol) === col("__loser"), "left_anti"),
        ComponentsStats(iterations = 0, converged = true))
    }
    val pairs =
      if (verifyExact)
        // fused: one scan computes sketch AND digest (r12) — identical
        // output to verifyPairsExact(minhashPairs(...), ...)
        minhashPairsVerified(in, idCol, textCol, shingleK, numHashes,
          bands, threshold)
      else minhashPairs(in, idCol, textCol, shingleK, numHashes,
        bands, threshold)
    val (labels, stats) = componentsWithStats(pairs, maxIters, reliableCheckpoint)
    enforceConvergence(stats, maxIters, failOnNonConvergence)
    val losers = labels
      .filter(col("id") =!= col("label"))
      .select(col("id").as("__loser"))
    (in.join(losers, in(idCol) === col("__loser"), "left_anti"), stats)
  }

  /** Near-dup removal with QUALITY-based representative selection: keep
    * each component's best-scoring member (tie → lowest id) instead of
    * its lowest id — what production curation actually keeps (among
    * templated/whitespace variants of one document, keep the cleanest
    * extraction, not the one that happened to get the smallest id;
    * cf. the keep-longest / keep-highest-quality policies in published
    * dedup pipelines). [[dropNearDuplicates]] remains the id-policy
    * twin; both share the candidate and component machinery.
    *
    * `scoreCol` is any numeric column on `docs` (quality score, length,
    * model score); null scores rank below every non-null score, so an
    * unscored doc never displaces a scored one. The winner is picked by
    * two map-side-combinable aggregations — max score per component,
    * then min id among the maximal — no window over a skewed component,
    * no id negation (a `max_by(id, struct(score, -id))` would overflow
    * on Long.MinValue ids).
    *
    * Scale shape: identical to [[dropNearDuplicatesWithStats]] —
    * bucketed candidates, component labels, and the score join ships
    * (id, double) pairs only. The threshold-1.0 exact-only regime takes
    * its own shortcut (r21, verdict #3): above the sketch ceiling the
    * candidate graph is a disjoint union of equal-content cliques
    * (verifyExact: digest classes — equal digest implies equal
    * signature, so the pairs path's signature-collide-then-digest-verify
    * groups ARE the digest classes; unverified: signature-surrogate
    * classes, the same 128-bit surrogate equality the pairs path's
    * collapse already keys on), and a clique's winner is directly its
    * (max score, then min id) member — so the whole
    * sketch-kernel + collapse + components machinery reduces to one
    * materialized (id, key, score) projection and two map-side-combinable
    * aggregations. Same star-fallback corner as the id-policy twin's
    * shortcut (a >maxEqualGroup signature group holding several distinct
    * texts, ~2⁻⁴⁵-rare): the fast path's per-content-class winner is the
    * stronger guarantee and the one specced. */
  def dropNearDuplicatesKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      verifyExact: Boolean = false,
      reliableCheckpoint: Boolean = false,
      failOnNonConvergence: Boolean = false,
      maxIters: Int = 10
  ): (DataFrame, ComponentsStats) = {
    val exactOnly = threshold * numHashes > numHashes - 1
    if (exactOnly) {
      // the exact-only shortcut (docstring): winner per equal-content
      // clique without the sketch kernel, candidate collapse, or the
      // component loop. Rows without a signature (null text, shorter
      // than shingleK bytes) never enter the candidate graph on the
      // pairs path and always survive — the `__e` eligibility column
      // below applies the same filter.
      val keyExpr =
        if (verifyExact)
          // the 32-byte content digest [[minhashPairsVerified]] verifies
          // with — digest classes are exactly its verified components
          unhex(sha2(col("__t"), 256))
        else {
          // the collapse's 128-bit signature surrogate — the SAME
          // equality the pairs path's grouping keys on
          import org.apache.spark.sql.graft.ColumnBridge
          val sig = ColumnBridge.column(
            graft.functions.expressions.MinHashSignature(
              ColumnBridge.expression(col("__t")), shingleK, numHashes))
          struct(xxhash64(sig).as("h1"),
            xxhash64(lit(0x9E3779B97F4A7C15L), sig).as("h2"))
        }
      // one text pass: the keyed projection materializes once
      // (fixed-width id + key + score blocks) because the best/winner/
      // loser consumers below would otherwise each re-run the scan.
      // Eligibility rides the SAME projection as a boolean and filters
      // AFTER the checkpoint: filtering before it would push the
      // predicate into the scan and evaluate the (often expensive,
      // caller-derived) text column twice per row — once for the filter,
      // once for the key — where one projection shares the evaluation
      // through codegen subexpression elimination.
      val members = materializeOnce(fanOut(docs
        .select(col(idCol).as("__id"), col(textCol).as("__t"),
          coalesce(col(scoreCol).cast("double"),
            lit(Double.NegativeInfinity)).as("__s")), col("__id"))
        .select(col("__id"), keyExpr.as("__k"), col("__s"),
          (col("__t").isNotNull &&
            octet_length(col("__t")) >= shingleK).as("__e")))
        .filter(col("__e")).drop("__e")
      // SHUFFLE_HASH: the best/winner sides are dup-class-sized —
      // per-partition hash-buildable at any scale
      val best = members.groupBy("__k")
        .agg(max(col("__s")).as("__best"), count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
      val winners = members.join(best.hint("shuffle_hash"), Seq("__k"))
        .filter(col("__s") === col("__best"))
        .groupBy("__k").agg(min(col("__id")).as("__winner"))
      val losers = members.join(winners.hint("shuffle_hash"), Seq("__k"))
        .filter(col("__id") =!= col("__winner"))
        .select(col("__id").as("__loser"))
      return (docs.join(losers, docs(idCol) === col("__loser"), "left_anti"),
        ComponentsStats(iterations = 0, converged = true))
    }
    val pairs =
      if (verifyExact)
        minhashPairsVerified(docs, idCol, textCol, shingleK, numHashes,
          bands, threshold)
      else minhashPairs(docs, idCol, textCol, shingleK, numHashes,
        bands, threshold)
    val (labels, stats) = componentsWithStats(pairs, maxIters, reliableCheckpoint)
    enforceConvergence(stats, maxIters, failOnNonConvergence)
    // members of dup components only (every labeled id sits in a ≥2
    // component); null-score members rank below all scored members
    val members = labels.join(
      docs.select(col(idCol).as("id"),
        coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__s")),
      Seq("id"))
    val best = members.groupBy("label").agg(max(col("__s")).as("__best"))
    val winners = members.join(best, Seq("label"))
      .filter(col("__s") === col("__best"))
      .groupBy("label").agg(min(col("id")).as("__winner"))
    val losers = members.join(winners, Seq("label"))
      .filter(col("id") =!= col("__winner"))
      .select(col("id").as("__loser"))
    (docs.join(losers, docs(idCol) === col("__loser"), "left_anti"), stats)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs: |A∩B| / |A∪B|
    * over distinct word n-grams. Joins two doc sets on a provided pair
    * frame; used to verify near-dup candidates exactly. */
  def ngramJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** Distinct word n-grams of a text column (first-occurrence order).
    * Fused native kernel — one pass, exact byte-verified distinctness;
    * [[wordNgramsComposed]] is the specced baseline. */
  def wordNgrams(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.WordNgrams(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), n))

  /** Composed-Column baseline for the native n-gram kernel. */
  private[graft] def wordNgramsComposed(c: Column, n: Int): Column = {
    val toks = TextFunctions.wsTokens(c)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Cross-document repeated-span profile (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" signal): for each
    * document, how many of its distinct `n`-token spans also appear in at
    * least one OTHER document. Documents whose text is mostly shared spans
    * are boilerplate/template mass that exact and near dedup both miss —
    * the spans repeat, the documents don't.
    *
    * Scale shape: spans leave their document only as 8-byte `xxhash64`
    * values — the native [[wordNgrams]] kernel builds the distinct span
    * set in one pass, and both shuffles (span-frequency count, per-doc
    * roll-up) carry `(hash, id)` pairs, never text. `hashed=false` keeps
    * the span strings end to end: bit-identical output absent 64-bit hash
    * collisions (specced), there for audit runs.
    *
    * Returns `(idCol, n_spans, n_shared)` — documents with fewer than `n`
    * tokens have no spans and are absent, mirroring the explode. */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      hashed: Boolean = true): DataFrame = {
    val spanKey = if (hashed) xxhash64(col("__span")) else col("__span")
    // the spans frame feeds BOTH the shared-key aggregation and the join
    // probe; checkpoint it (r19, the dropSharedSpans pattern) so the
    // tokenize+ngram+hash kernel runs once and both consumers read
    // fixed-width (id, 8-byte key) blocks — but only in the hashed
    // (scale) mode: the unhashed variant's keys ARE span text, which
    // must never sit in corpus-sized checkpoint blocks
    val spansRaw = docs
      .select(col(idCol), explode(wordNgrams(col(textCol), n)).as("__span"))
      .select(col(idCol), spanKey.as("__k"))
    val spans = if (hashed) materializeOnce(spansRaw) else spansRaw
    // span sets are per-doc distinct already (wordNgrams distincts), so
    // counting rows per key counts documents — no count-distinct Expand
    val sharedKeys = spans.groupBy("__k")
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select("__k")
    // SHUFFLE_HASH: same join shape and same rationale as
    // [[dropSharedSpans]]' losers join — the shared-key side is
    // distinct-span-sized, and the unhinted plan either broadcasts it
    // whole (single-threaded build) or sorts the span stream for a
    // sort-merge join at scale. GATED on the same 1 MB estimate as
    // dropSharedSpans (ScalePolicy.DigestBytes; r20 advice: this was the
    // one r20 site hinted unconditionally) — tiny spec/smoke corpora keep
    // the planner's free broadcast instead of paying a shuffle.
    val side = joinSide(isSmall(
      docs.select(col(idCol), col(textCol)), ScalePolicy.DigestBytes))
    spans
      .join(side(sharedKeys.withColumn("__shared", lit(1L))),
        Seq("__k"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__shared").isNotNull, 1L).otherwise(0L)).as("n_shared"))
  }

  /** Corpus-wide exact PARAGRAPH dedup (r13) — the FineWeb/RefinedWeb
    * line-dedup stage: every paragraph keeps exactly its FIRST occurrence
    * (global (id, idx) order) and every later copy is removed from its
    * document's text; boilerplate (headers, nav, license blocks) that
    * repeats across documents without making whole documents equal is
    * exactly what document-level dedup misses. Empty paragraphs
    * (consecutive separators) are dropped. Returns (idCol, textCol) with
    * the rebuilt text — every input row survives (a fully-boilerplate
    * document comes back as the empty string for downstream length
    * filters to kill).
    *
    * Scale shape: paragraphs leave their document only as the 128-bit
    * surrogate key (two independent `xxhash64`s — the fused-minhash
    * collapse pattern; a collision needs 2⁻¹²⁸) plus (id, idx). The
    * winner per paragraph group is a map-side combinable aggregate, NOT
    * a window: a paragraph duplicated a million times partial-aggregates
    * to one row per map task instead of sorting a million-row window
    * partition (skew-proof by construction). For integral ids the winner
    * is `min` over ONE packed BIGINT — `(id + 2⁴²) << 20 | idx`, order-
    * identical to (id, idx) — because `min(struct(...))` is not hash-
    * aggregable in Spark and planned as a SortAggregate that sorted
    * every paragraph in the corpus twice (r13 verdict); the packed form
    * plans as HashAggregate (plan-audited in the spec). Bounds are
    * enforced per-row, fail-loud: |id| < 2⁴² and idx < 2²⁰ (a million
    * paragraphs per document); non-integral ids keep the generic struct
    * winner. Ids must be NON-NULL: a null id used to be able to WIN a
    * group (null struct fields sort first in min) while the `===`
    * rebuild join could never hand its keep-list back, silently deleting
    * that paragraph corpus-wide — now any null id among the winners'
    * inputs raises instead. The per-doc keep-list aggregation exchanges
    * (id, int) pairs. The rebuild joins the keep-lists back onto the
    * ORIGINAL scan and re-derives the kept paragraphs in place with an
    * indexed array filter over `split(text)` — while the keep-lists fit
    * a broadcast the text never crosses the wire at all (plan-audited),
    * and past that the text rides exactly ONE doc-keyed exchange: the
    * unavoidable cost of rewriting the corpus.
    *
    * PRECONDITION: `idCol` must be unique. A duplicated id collides
    * paragraph indices across rows and the rebuild join cross-applies
    * one row's keep-list to the other, silently keeping/deleting wrong
    * paragraphs ([[dropSharedSpans]] guards this with an id-count check;
    * here the precondition is documented — add the same guard upstream
    * if your id space is not trusted). */
  def dropDuplicateParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    graft.InternalCols.requireAbsent(docs, "Dedup.dropDuplicateParagraphs",
      "__id", "__idx", "__p", "__k", "__keep")
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), quoted)).as(Seq("__idx", "__p")))
      .filter(length(col("__p")) > 0)
    val keyed = paras.select(col("__id"), col("__idx"),
      struct(xxhash64(col("__p")),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("__p"))).as("__k"))
    val winners = keepFirstByKey(keyed, docs.schema(idCol).dataType,
      "dropDuplicateParagraphs").drop("__k")
    val keepLists = winners
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__idx"))).as("__keep"))
    docs
      .join(keepLists, docs(idCol) === keepLists("__id"), "left")
      .select(docs(idCol),
        coalesce(
          array_join(
            filter(split(docs(textCol), quoted),
              (p, i) => array_contains(col("__keep"), i)),
            sep),
          lit("")).as(textCol))
  }

  /** Keep-first winner per key group — the shared engine of
    * [[dropDuplicateParagraphs]] and [[dropSharedSpans]]. Input columns
    * `(__k, __id, __idx)`; output one `(__k, __id, __idx)` row per key:
    * the occurrence with the globally smallest (id, idx).
    *
    * For integral ids the winner is `min` over ONE packed BIGINT —
    * `(id + 2⁴²) << 20 | idx`, order-identical to (id, idx) — because
    * `min(struct(...))` is not hash-aggregable in Spark and planned as a
    * SortAggregate that sorted every occurrence in the corpus twice (r13
    * verdict); the packed form plans as HashAggregate (plan-audited).
    * Bounds fail loudly per-row: |id| < 2⁴² and idx < 2²⁰. Ids must be
    * NON-NULL (a null id could WIN a group — null struct fields sort
    * first — while the `===` rebuild join downstream could never hand
    * the keep-list back, silently deleting content corpus-wide).
    * Non-integral ids keep the generic struct winner with the same
    * null guard. */
  private[operators] def keepFirstByKey(
      keyed: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      op: String): DataFrame = {
    import org.apache.spark.sql.types._
    val integralId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val idOffset = 1L << 42
    if (integralId) {
      // raise_error branches coerce (NullType) into the packed LONG; the
      // guard is evaluated per row in the same projection as the pack,
      // so out-of-bound / null ids cannot silently corrupt winner order
      val packed = when(
        col("__id").isNotNull &&
          col("__id").cast("long").between(-idOffset, idOffset - 1) &&
          col("__idx") < (1 << 20),
        shiftleft(col("__id").cast("long") + idOffset, 20)
          .bitwiseOR(col("__idx").cast("long")))
        .otherwise(raise_error(concat(
          lit(s"$op: id must be non-null with |id| < 2^42 " +
            "and occurrence index < 2^20; got id="),
          coalesce(col("__id").cast("string"), lit("null")),
          lit(" idx="), col("__idx").cast("string"))))
      keyed
        .groupBy("__k")
        .agg(min(packed).as("__w"))
        .select(col("__k"),
          (shiftright(col("__w"), 20) - idOffset).cast(idType).as("__id"),
          col("__w").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("__idx"))
    } else {
      val guardedIdx = when(col("__id").isNotNull, col("__idx"))
        .otherwise(raise_error(lit(s"$op: id column must be non-null")))
      keyed
        .groupBy("__k")
        .agg(min(struct(col("__id"), guardedIdx.as("__idx"))).as("__w"))
        .select(col("__k"), col("__w.__id").as("__id"),
          col("__w.__idx").as("__idx"))
    }
  }

  /** Corpus-wide duplicate-SPAN removal (r14) — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) transform: any k-token span whose exact text occurs
    * more than once in the corpus keeps only its FIRST occurrence
    * (global (id, token index) order); every token covered by a
    * non-winner occurrence of a shared span is removed and the document
    * text is rebuilt from the surviving tokens. Unlike
    * [[dropDuplicateParagraphs]] this catches repeated template/
    * boilerplate runs that do NOT align to paragraph boundaries —
    * straddling spans are exactly what the paragraph stage misses.
    *
    * Semantics (relationally exact, oracle-replayable): token `t` of
    * document `d` is removed iff some shared-span occurrence that is not
    * its span's keep-first winner covers `t`. Overlapping duplicated
    * windows union into removed regions. Output is (idCol, textCol) with
    * the rebuilt text — whitespace-NORMALIZED (tokens joined by single
    * spaces; tokenization is the `wsTokens` whitespace set), every input
    * row survives, a fully-templated document comes back as "".
    *
    * Scale shape: the only corpus-sized shuffles carry the 128-bit span
    * surrogate key (two independent xxhash64s) plus (id, start) — span
    * TEXT never leaves the map side. The winner per span group is the
    * [[keepFirstByKey]] packed-BIGINT HashAggregate (skew-proof: a
    * boilerplate span repeated a million times partial-aggregates per
    * map task). Losers come from re-joining occurrences to winners on
    * the SAME key partitioning (the winner aggregation's exchange is
    * reused). Per-doc removal lists exchange (id, int array); the text
    * rides at most the one doc-keyed rebuild join. The rebuild itself is
    * linear per document: sorted removal starts fold into disjoint
    * intervals and the kept text concatenates the gap slices (r15 — the
    * per-token removal-list scan was O(tokens × removals)).
    *
    * Ids must be UNIQUE (fail-loud guarded): a duplicated id collides
    * occurrence indices across rows and would cross-apply removal
    * lists in the rebuild join. */
  def dropSharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    graft.InternalCols.requireAbsent(docs, "Dedup.dropSharedSpans",
      "__id", "__idx", "__k", "__toks", "__wh", "__rm", "__wid", "__widx",
      "__ivs_s", "__ivs_e", "__id0", "__c")
    // gate for the REBUILD joins' strategy (ScalePolicy.DigestBytes, the
    // 1 MB gate, for the reason given there): below it the planner
    // broadcasts the removal lists and the text never rides a shuffle
    // (the spec-pinned broadcast-regime invariant); above it the
    // SHUFFLE_HASH hints below keep the text-carrying sort-merge join
    // out of the plan — text then rides exactly its one unavoidable
    // doc-keyed exchange, unsorted
    val side = joinSide(isSmall(
      docs.select(col(idCol), col(textCol)), ScalePolicy.DigestBytes))
    // all k-token windows with their 0-based start index, as 128-bit
    // hash-pair surrogates straight off the text bytes
    // ([[graft.functions.expressions.WordWindowHashes]] — r15: the
    // composed slice+concat_ws+xxhash64 form built one string per
    // window, the dominant cost of the 20× occ stage); docs shorter
    // than k tokens contribute no spans (empty array).
    //
    // The hash-array projection is CHECKPOINTED before the explode
    // (r19, found by executed-plan bisection at 20×/100×): without it
    // (a) InferFiltersFromGenerate pushes `size(__wh) > 0 AND
    // isnotnull(__wh)` below the Generate into the scan, re-evaluating
    // the tokenize-and-hash kernel TWO extra times per document, and
    // (b) the winners/losers self-join evaluates its child once per
    // side unless the planner happens to reuse the exchange — at 20×
    // AQE picked a broadcast join (no exchange to reuse) and the whole
    // kernel subtree ran twice, making the SMALLER corpus slower than
    // 100×. The checkpoint runs the kernel exactly once at any scale
    // and both join sides read fixed-width hash blocks (id + ~tokens
    // hash pairs), never text. fanOut first: the kernel is CPU-bound
    // and a single-file test corpus arrives as one split.
    val withWh = materializeOnce(fanOut(docs
      .select(col(idCol).as("__id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.expressions.WordWindowHashes(
            org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
            k)).as("__wh")), col("__id")))
    val occ = withWh
      .select(col("__id"), posexplode(col("__wh")).as(Seq("__idx", "__k")))
    val winners = keepFirstByKey(occ, docs.schema(idCol).dataType,
      "dropSharedSpans")
      .withColumnRenamed("__id", "__wid").withColumnRenamed("__idx", "__widx")
    // a loser is any occurrence that is not its key's winner — singleton
    // spans' only occurrence IS the winner, so only shared spans remove.
    // SHUFFLE_HASH (r20, guide §3.1): the winner side is distinct-span-
    // sized (millions of rows at 20×/100×) — too big for a healthy
    // broadcast yet hash-buildable per partition. Unhinted, the planner
    // broadcast the whole winner relation at 20× (a single-threaded
    // driver build that stalled the probe: measured 5.6 s → 1.5 s for
    // the losers stage with the hint) and fell to a sort-merge join at
    // 100× that SORTED the full occurrence stream on the 16-byte struct
    // key (the dominant stage of the 100× profile: 357 → 189 CPU-s
    // cold). The hash build needs only the winner side in memory per
    // partition; occurrences stream through unsorted.
    val losers = occ.join(winners.hint("shuffle_hash"), Seq("__k"))
      .filter(!(col("__id") === col("__wid") && col("__idx") === col("__widx")))
      .select(col("__id"), col("__idx"))
    val rmLists = losers
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__idx"))).as("__rm"))
    // ids must be UNIQUE: duplicate ids make occurrence indices collide
    // across rows and the rebuild join would cross-apply one row's
    // removal list to the other, silently deleting wrong tokens. The
    // guard costs one id-only map-side-combined exchange (8 B keys) and
    // raises naming the id; routing the rebuild join through the guarded
    // distinct-id frame keeps Catalyst from pruning the check away.
    val idType = docs.schema(idCol).dataType
    val rmFull = docs
      .select(col(idCol).as("__id0"))
      .groupBy("__id0").agg(count(lit(1)).as("__c"))
      .select(when(col("__c") === 1L, col("__id0"))
        .otherwise(raise_error(concat(
          lit("Dedup.dropSharedSpans: duplicate id "),
          coalesce(col("__id0").cast("string"), lit("NULL")),
          lit(" — ids must be unique (occurrence indices collide and " +
            "removal lists would cross-apply)")))).as("__id"))
      // SHUFFLE_HASH above the gate: removal lists are doc-count-sized
      // (id + int array) — hash-buildable per partition; unhinted this
      // was a sort-merge join at 100×
      .join(side(rmLists), Seq("__id"), "left")
    // Rebuild in O(tokens + removals) per doc: the sorted removal STARTS
    // merge into disjoint [s, e) intervals and the kept text is the
    // concatenation of the GAP slices between them — each token copied
    // at most once. Because every window has the SAME length k, a merged
    // run is exactly a maximal chain of consecutive starts each within k
    // of its predecessor: run HEADS (interval starts) and run TAILS + k
    // (interval ends) fall out of two shifted zip_withs in O(removals)
    // with no accumulator — both an aggregate() interval fold (its
    // per-element concat copies the array accumulator: O(removals²) per
    // doc, measured 49 s on the 20× replica corpus where most docs are
    // near-fully removed) and the original per-token
    // `!exists(__rm, ...)` scan (O(tokens × removals)) are quadratic
    // exactly on the boilerplate-heavy documents this operator exists
    // for. Sentinels: a previous start of -k-1 makes the first element a
    // run head; a next start of Int.MaxValue makes the last a run tail.
    val rmArr = coalesce(col("__rm"), array().cast("array<int>"))
    val rLen = greatest(size(rmArr) - 1, lit(0))
    val prevs = concat(array(lit(-k - 1)), slice(rmArr, lit(1), rLen))
    val nexts = concat(slice(rmArr, lit(2), rLen), array(lit(Int.MaxValue)))
    val starts = filter(
      zip_with(rmArr, prevs, (s, p) => when(s > p + k, s)), _.isNotNull)
    val ends = filter(
      zip_with(rmArr, nexts, (s, n) => when(n > s + k, s + k)), _.isNotNull)
    docs
      // SHUFFLE_HASH above the gate, on the removal side: the rebuild
      // join's left side carries TEXT — a sort-merge join here sorted
      // the whole corpus's text rows by id at 100×; hash-building the
      // doc-count-sized removal frame leaves the text stream unsorted.
      // Below the gate the planner's broadcast keeps text off shuffles
      // entirely (plan-audited).
      .join(side(rmFull), docs(idCol) === rmFull("__id"), "left")
      // stage interval bounds and the re-tokenized text as ATTRIBUTES so
      // the gap lambdas don't re-derive them (the quantize staging
      // pattern — CollapseProject keeps multi-use non-cheap expressions
      // staged)
      .select(docs(idCol),
        graft.functions.TextFunctions.wsTokens(docs(textCol)).as("__toks"),
        starts.as("__ivs_s"), ends.as("__ivs_e"))
      .select(col(idCol),
        concat_ws(" ", flatten(zip_with(
          concat(array(lit(0)), col("__ivs_e")),
          concat(col("__ivs_s"), array(size(col("__toks")))),
          (gs, ge) => slice(col("__toks"), gs + 1, greatest(ge - gs, lit(0))))))
          .as(textCol))
  }
}
