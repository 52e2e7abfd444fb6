package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.KeyedAppend
import graft.sources.KeyedAppend.inSet

/** Similarity search over embedding columns.
  *
  * Brute-force top-k is the exact baseline: the (small) query set is
  * broadcast against the corpus scan — zero shuffle, one pass, then a
  * per-query top-k window on the tiny (query × corpus-partition) result.
  * The LSH path buckets both sides by hyperplane sign pattern so candidate
  * generation is a co-partitioned equi-join on an 8-byte key — the shape
  * that survives a 100×-larger corpus.
  */
object Similarity {

  /** Bounded top-k ranking of a scored (query_id, cand_id, score) stream:
    * the [[VectorFunctions.boundedTopK]] aggregate combines each query's
    * candidates down to k entries map-side, so the exchange moves at most
    * `partitions × |Q| × k` pre-combined entries and NO global Sort or
    * Window over the scored cross product ever runs — the shape that
    * survives a billion-row corpus, where the old
    * `row_number() OVER (PARTITION BY query_id)` made every per-query
    * partition a straggler task sorting the whole corpus. Output ordering
    * (score desc nulls-last, cand_id asc) and the emitted
    * (query_id, cand_id, score, rank) schema are identical to the window
    * formulation. */
  private def rankTopK(scored: DataFrame, scoreName: String, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(VectorFunctions.boundedTopK(col(scoreName), col("cand_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("cand_id"),
        col("__e.score").as(scoreName), (col("__pos") + 1).as("rank"))

  /** Exact cosine top-k: for each query vector, the k most similar corpus
    * vectors (excluding itself). Output: query_id, cand_id, cos, rank. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    // fanOutDense (r21): the |Q|·|C| cosine kernel over a low-row-group
    // corpus scan otherwise runs on the row-group-count tasks
    val c = Dedup.fanOutDense(
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
      col("cand_id"))

    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        roundedCosine(col("qv"), col("cv")).as("cos"))

    rankTopK(scored, "cos", k)
  }

  /** Per-vector int8 scalar quantization — the storage/bandwidth workhorse
    * of a 100 TB embedding pipeline (4× smaller than float32, 8× smaller
    * than float64; rerank on the exact floats only for the final
    * candidates). Each vector gets its own (min, max) range; codes are
    * `round((x - min) * 255 / (max - min))` ∈ [0, 255].
    *
    * All arithmetic runs in DOUBLE with a fixed operation order, so codes
    * are bit-reproducible across IEEE-754 engines — the property the
    * DuckDB oracle relies on. A constant vector (max == min) encodes as
    * all-zero codes. Pure columnar expressions: one projection over the
    * scan, no shuffle, no UDF.
    *
    * Output: (idCol, qmin double, qmax double, codes array<int>). */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Stage min/max into their own projection so the per-element lambda
    // references ATTRIBUTES: inlining array_min/array_max into the
    // transform would re-reduce the whole vector per element — O(dim²)
    // per row, a real cost at embedding dims in the thousands. Catalyst's
    // CollapseProject keeps non-cheap expressions with multiple uses
    // staged, so this stays two pipelined projections, still shuffle-free.
    val staged = df
      .select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("__v"))
      .select(col(idCol), col("__v"),
        array_min(col("__v")).as("qmin"), array_max(col("__v")).as("qmax"))
    val qmin = col("qmin")
    val qmax = col("qmax")
    val codes = when(qmax === qmin,
      transform(col("__v"), _ => lit(0).cast("int")))
      .otherwise(transform(col("__v"),
        x => round((x - qmin) * lit(255.0) / (qmax - qmin), 0).cast("int")))
    staged.select(col(idCol), qmin, qmax, codes.as("codes"))
  }

  /** Reconstruction of a quantized vector:
    * `qmin + code * (qmax - qmin) / 255` — error per element bounded by
    * half a quantization step, `(qmax - qmin) / 510`. */
  def dequantize(codes: Column, qmin: Column, qmax: Column): Column =
    when(qmax === qmin, transform(codes, _ => qmin))
      .otherwise(transform(codes,
        c => qmin + c.cast("double") * (qmax - qmin) / lit(255.0)))

  /** Quantized-scan top-k with exact rerank — how a 100 TB deployment
    * actually serves ANN over quantized storage: the coarse pass scores
    * the int8 corpus (4× less scan bandwidth than float32; the float
    * corpus is never read), keeps the best `rerankDepth` candidates per
    * query, then the exact pass joins ONLY those candidates' float
    * vectors back (broadcast-restricted — exact vectors move for a tiny
    * fraction of the corpus) and reranks with full-precision cosine.
    *
    * `rerankDepth >= corpus size` makes the coarse cut a no-op, so the
    * result is exactly [[bruteForceTopK]] — the oracle hook, same pattern
    * as IVF's nprobe-all mode. Partial-depth recall is spec-verified. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerankDepth: Int
  ): DataFrame = quantizedTopKIndexed(
    quantize(corpus, idCol, vecCol), corpus, queries, idCol, vecCol, k,
    rerankDepth)

  /** [[quantizedTopK]] over a PREBUILT (id, qmin, qmax, codes) frame —
    * the persisted-index search path ([[readQuantizedIndex]]): the
    * coarse pass scans the int8 index table, never re-quantizing the
    * float corpus, which is read only for the candidate-restricted
    * rerank. */
  def quantizedTopKIndexed(
      coded0: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerankDepth: Int
  ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    // dequantize below the join: one reconstruction per corpus row, not
    // one per (query, corpus) pair. fanOutDense (r21): a low-row-group
    // coded scan otherwise runs the |Q|·|C| cosine kernel on the
    // row-group-count tasks — measured 10.3 → 2.2 s at 100×; a healthy
    // multi-file index layout passes through untouched.
    val coded = Dedup.fanOutDense(coded0, col(idCol))
      .select(col(idCol).as("cand_id"),
        dequantize(col("codes"), col("qmin"), col("qmax")).as("dv"))

    // bounded per-query coarse cut: each map task keeps at most
    // rerankDepth candidates per query before the exchange — no window,
    // no global sort of the |Q|·|C| scored stream
    val cands = q.crossJoin(coded)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        VectorFunctions.cosine(col("qv"), col("dv")).as("coarse"))
      .groupBy("query_id")
      .agg(VectorFunctions.boundedTopK(
        col("coarse"), col("cand_id"), rerankDepth).as("__top"))
      .select(col("query_id"), explode(col("__top.id")).as("cand_id"))

    // the rerank cosine pays the same row-group cap as the coarse pass
    val exact = Dedup.fanOutDense(
        corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        col("cand_id"))
      .join(broadcast(cands), "cand_id")
      .join(q, "query_id")
      .select(col("query_id"), col("cand_id"),
        roundedCosine(col("qv"), col("cv")).as("cos"))

    rankTopK(exact, "cos", k)
  }

  /** An IVF (inverted-file) index: `numCentroids` centroid vectors seeded
    * deterministically from the corpus and optionally refined by
    * distributed k-means, plus the corpus with an assigned
    * nearest-centroid `cluster` column. The index build collects only
    * centroid-sized data; assignment is a shuffle-free constant-size
    * kernel scan ([[assignClusters]]). */
  final case class IvfIndex(centroids: Seq[(Int, Seq[Double])], assigned: DataFrame)

  /** Nearest-centroid assignment: adds an int `cluster` column. The
    * argmax over cosine(v, centroid_c) needs only dot(v, c/||c||) — ||v||
    * is a common positive factor — and runs as ONE constant-size kernel
    * expression ([[VectorFunctions.nearestCentroids]]) whose centroid
    * matrix is a codegen reference object: the plan is O(1) in centroid
    * count (the pre-r11 shape built one `greatest(struct(dot(v,
    * array(lit…))))` branch per centroid, which grew the expression tree
    * linearly and broke whole-stage codegen in the low hundreds), fully
    * codegen'd, no UDF, and — unlike a join against a centroid table —
    * ZERO shuffle: at 10⁹ corpus rows nothing crosses the wire.
    * [[assignByJoin]] is the specced join-shaped alternative. */
  private[operators] def assignClusters(
      vecs: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame =
    vecs.withColumn("cluster",
      element_at(VectorFunctions.nearestCentroids(col("v"), centroids, 1), 1))

  /** Assignment as a broadcast centroid-DataFrame cross join ranked by
    * BoundedTopK(1) — the "centroids are data, not plan" formulation.
    * Kept (and specced identical to [[assignClusters]]) as the measured
    * alternative, NOT the default: grouping the |corpus|×|centroids|
    * scored stream back to one row per corpus id makes every corpus id an
    * aggregation key, and ObjectHashAggregate falls back to SORT-BASED
    * aggregation past `spark.sql.objectHashAggregate.sortBased.
    * fallbackThreshold` (128) distinct keys — a per-partition sort of the
    * full scored stream — and the re-grouped vectors cross one full
    * exchange. The kernel expression does the same argmax in a straight
    * shuffle-free scan. */
  private[operators] def assignByJoin(
      vecs: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.map { case (cid, c) =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      (cid, if (nrm == 0.0) c.map(_ => 0.0) else c.map(_ / nrm))
    }.toDF("cid", "cnv"))
    vecs.crossJoin(cdf)
      .select(col("id"), col("v"), col("cid"),
        VectorFunctions.dot(col("v"), col("cnv")).as("score"))
      .groupBy("id")
      .agg(first(col("v")).as("v"),
        VectorFunctions.boundedTopK(col("score"), col("cid"), 1).as("__top"))
      .select(col("id"), col("v"), col("__top")(0).getField("id").as("cluster"))
  }

  /** Centroid count for [[ivfBuild]] when the caller passes
    * `numCentroids = 0` (auto): `ceil(√(n / targetClusterSize))` clamped
    * to [4, 4096] — the same corpus-size lever [[autoPlanes]] gives LSH.
    * Balances the two costs that scale oppositely in the centroid count:
    * assignment work is O(n·nlist) while the per-query probed fraction is
    * ~nprobe/nlist of the corpus, and √-scaling keeps both sublinear as
    * the corpus grows instead of the index silently falling behind. */
  private[operators] def autoCentroids(n: Long, targetClusterSize: Int = 64): Int =
    math.max(4, math.min(4096,
      math.ceil(math.sqrt(math.max(1.0, n.toDouble / targetClusterSize))).toInt))

  /** Corpus size from optimizer statistics — ZERO pre-plan jobs, the same
    * gate pattern as [[graft.ScalePolicy]]'s byte gates (which replaced
    * probe jobs in r11; this replaces auto mode's exact `count()`, the
    * one remaining pre-plan job in the ANN family). `rowCount` is exact
    * when the plan carries it (limits, CBO/ANALYZE); otherwise rows are
    * `sizeInBytes` over an assumed embedding-row width: each array
    * column counts `spark.graft.ann.assumedVectorBytes` (default 512 —
    * ~64 doubles / ~128 floats; scalar `defaultSize` would undercount a
    * vector 64×). The estimate only feeds [[autoCentroids]]' clamped √,
    * so a 4× width error moves nlist 2× — inside the heuristic's
    * tolerance. HIGH-DIM caveat (r13): at 1536–3072 dims a row is
    * 12–24 KB and the 512 B default overestimates rows 25–50× → nlist
    * ~5–7× high (still bounded by the 4096 clamp). For such corpora set
    * the conf to the real row width (dims × 8 for doubles), or pass
    * `numCentroids` explicitly — auto mode is a convenience default,
    * not a substitute for known geometry. */
  private[operators] def approxRowCount(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val vectorBytes = scala.util.Try(df.sparkSession.conf
        .get("spark.graft.ann.assumedVectorBytes", "512").toInt)
        .getOrElse(512).max(1)
      val width = df.schema.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType => vectorBytes
          case dt => dt.defaultSize
        }
      }.sum.max(1)
      math.max(1L, (stats.sizeInBytes / width).toLong)
    }
  }

  /** Build an IVF index over the corpus.
    *
    * Seeding orders by `xxhash64(id)` and takes the first `numCentroids`
    * rows — a deterministic pseudo-random sample that makes no density
    * assumption about the ids and compiles to TakeOrderedAndProject (a
    * top-k per partition + driver merge of `numCentroids` rows, NOT a full
    * sort, and no separate count pass).
    *
    * `kmeansIters` > 0 runs that many distributed Lloyd iterations
    * (spherical: cosine-argmax assignment, per-cluster mean update): each
    * iteration is one corpus pass whose aggregate result is only
    * `numCentroids × dim` doubles — the driver never sees corpus data.
    * Empty clusters keep their previous centroid.
    *
    * `refineIterations` > 0 additionally runs that many FULL-CORPUS Lloyd
    * iterations on the exact integer lattice ([[KMeans.refineLattice]],
    * `latticeScale` a power of two) before freezing — the stage a 100 TB
    * coarse quantizer actually needs: the sampled seeds see only
    * `numCentroids` rows of the corpus, so a small-but-real cluster the
    * sample misses gets NO centroid and every query near it pays a long
    * nprobe detour forever (the geometry is frozen between re-trains —
    * [[appendToIvfIndex]]). Lattice refinement scans EVERY vector,
    * bit-deterministically (exact integer sums, fixed rounding — see
    * KMeans.scala's header for why floats can't do this), and pulls the
    * recovered cluster's mass onto its own centroid. Refined lattice
    * centroids dequantize by `/latticeScale` (exact: power-of-two
    * divisor). Refinement minimizes lattice L2; the index's assignment
    * kernel ranks by cosine — for the near-unit-norm embeddings ANN
    * serves, L2² = 2 − 2·cos up to the lattice spacing, so the refined
    * centers are better under both metrics for blob-structured corpora
    * (IvfSpec's planted-small-cluster recovery property). */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      kmeansIters: Int = 0,
      refineIterations: Int = 0,
      latticeScale: Int = 64
  ): IvfIndex = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // numCentroids = 0: auto-scale from optimizer stats — no pre-plan job
    val nlist =
      if (numCentroids > 0) numCentroids else autoCentroids(approxRowCount(vecs))
    var centroids: Seq[(Int, Seq[Double])] = vecs
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nlist)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        // array<float> and array<double> both seed (the vector kernels
        // accept either element type; a Float-only getSeq would throw
        // ClassCastException on double embeddings)
        i -> r.getSeq[Number](1).map(_.doubleValue()).toSeq
      }
      .toSeq

    for (_ <- 1 to kmeansIters) {
      val perDim = assignClusters(vecs, centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val byCluster = perDim.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          case None => cid -> old
        }
      }
    }

    if (refineIterations > 0) {
      // full-corpus refinement on the exact lattice: quantize the corpus
      // and the current centroids to the same grid, run distributed Lloyd
      // (one scan + a k·d-row exchange + a k·d-row collect per
      // iteration — nothing corpus-sized reaches the driver), dequantize.
      // floor() on both sides keeps corpus points and seeds on the
      // identical grid the kernel compares on.
      val lat = vecs.select(
        KMeans.latticeQuantize(col("v"), latticeScale).as("q"))
      val seeds = centroids.map { case (cid, c) =>
        (cid, c.map(x => math.floor(x * latticeScale).toLong))
      }
      val refined = KMeans.refineLattice(lat, "q", seeds, refineIterations)
      centroids = refined.map { case (cid, vq, _) =>
        (cid, vq.map(_.toDouble / latticeScale))
      }
    }

    val assigned = assignClusters(vecs, centroids)
    IvfIndex(centroids, assigned)
  }

  /** Probe the IVF index: each query scans only its `nprobe` nearest
    * clusters — the corpus fraction touched is ~nprobe/numCentroids,
    * which is what makes ANN tractable at 100 TB. Returns top-k per
    * query from the probed subset. */
  def ivfSearch(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // per-query nprobe nearest centroids — the same constant-size kernel
    // as assignment with k = nprobe; no per-centroid expression branches
    val probes = q.select(col("query_id"), col("qv"),
      explode(VectorFunctions.nearestCentroids(
        col("qv"), index.centroids, nprobe)).as("cluster"))

    val scored = broadcast(probes)
      .join(index.assigned, Seq("cluster"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("cand_id"),
        roundedCosine(col("qv"), col("v")).as("cos"))

    rankTopK(scored, "cos", k)
  }

  // ===== persisted ANN indexes ==============================================
  //
  // quantizedTopK/ivfSearch re-derive codes and cluster assignments from
  // the float corpus on every call — fine for one-shot queries, wrong at
  // 100 TB where the index build dominates repeated searches. These
  // persist the derived layouts through the repo's atomic tmp+promote
  // machinery (the repo IS the materialization layer — the same role the
  // reference's parquet repository plays for query results,
  // files/parquet.py:221), so the build runs once and every later search
  // starts from the parquet index:
  //  - quantized: (id, qmin, qmax, codes) — the int8 corpus the coarse
  //    pass scans (4× less bandwidth; the float corpus is read only for
  //    the candidate-restricted rerank);
  //  - IVF: the assigned corpus PARTITIONED BY cluster (one directory
  //    per cluster — a probe's cluster equi-join prunes to its nprobe
  //    partitions at the scan) plus a centroid side table.

  /** Sidecar property recording the bucket count a persisted quantized
    * index was hash-partitioned with — [[appendToQuantizedIndex]] must
    * bucket its batch with the SAME modulus or merge keys would miss. */
  private[operators] val Q8BucketsProp = "q8.numBuckets"

  private[operators] def q8Bucket(idCol: String, numBuckets: Int) =
    pmod(xxhash64(col(idCol)), lit(numBuckets.toLong)).cast("int").as("bucket")

  /** Build and persist the int8 quantized index as `<schema>/<name>_q8`,
    * hash-partitioned into `numBuckets` directories on
    * `pmod(xxhash64(id), numBuckets)`. The bucket layout exists for
    * [[appendToQuantizedIndex]]: its probe scans only the bucket
    * directories the batch's ids hash into, new ids land as new files,
    * and only a bucket holding a re-ingested id is rewritten — at 100 TB
    * of embeddings a 0.1% daily batch must not copy all codes. The
    * bucket count is stamped in the table's meta sidecar so appends
    * can't silently bucket with a different modulus. Search reads are
    * unchanged: [[readQuantizedIndex]] hides the bucket column. */
  def writeQuantizedIndex(
      repo: graft.sources.PqRepo,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String,
      numBuckets: Int = 32): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(idCol != "bucket", "idCol 'bucket' collides with the layout column")
    val coded = quantize(corpus, idCol, vecCol)
      .withColumn("bucket", q8Bucket(idCol, numBuckets))
    // the modulus sidecar rides INSIDE the tmp layout (r13): it promotes
    // atomically with the bucket tree, so no crash point can leave a
    // healthy index that appendToQuantizedIndex then refuses for want of
    // its geometry stamp
    repo.write(coded, schema, s"${name}_q8",
      metaProps = Some(Map(Q8BucketsProp -> numBuckets.toString)), partitionCols = Seq("bucket"))
  }

  /** The persisted quantized index: (idCol, qmin, qmax, codes). The
    * bucket partition column is layout, not payload — dropped here. */
  def readQuantizedIndex(
      repo: graft.sources.PqRepo, schema: String, name: String): DataFrame =
    repo.table(schema, s"${name}_q8").drop("bucket")

  /** Persist an IVF index: assigned corpus partitioned by cluster plus
    * the centroids as `<schema>/<name>_ivf{,_centroids}`. */
  def writeIvfIndex(
      repo: graft.sources.PqRepo,
      index: IvfIndex,
      schema: String,
      name: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // disjoint outputs, overlapped (guide §2.6): the centroid side table's
    // job floor hides under the corpus-sized assigned write
    graft.Par.run2(
      repo.write(index.assigned, schema, s"${name}_ivf", partitionCols = Seq("cluster")),
      repo.write(index.centroids.toDF("cid", "cv"), schema,
        s"${name}_ivf_centroids"))
  }

  /** Incrementally APPEND a batch to a persisted IVF index without
    * rebuilding — the daily-embedding-ingest primitive at 100 TB, where
    * re-deriving the whole index per batch is the cost a persisted index
    * exists to remove. The batch assigns against the EXISTING centroids
    * (standard IVF ingest: the index geometry is frozen between
    * re-trains — a drifted corpus re-trains via [[ivfBuild]] +
    * [[writeIvfIndex]]) and its cost follows the batch, not the index:
    * the assigned batch is materialized once on the executors (an
    * embedding batch can be far larger than the driver) and lands
    * through the repo's keyed append ([[KeyedAppend]]) on `(id,
    * cluster)`: one id-filtered thin scan probes the index, a new id
    * lands as new files, and only a cluster holding a re-ingested id (or
    * a null id) is rewritten. Re-ingesting an unchanged vector is
    * idempotent.
    *
    * A re-ingested id whose EMBEDDING changed enough to move clusters
    * would land a SECOND row while its stale row survives in a partition
    * the batch never touches — `checkMoved` (default on) detects exactly
    * that from the same probe and fails loudly before anything is
    * written. Provably append-only feeds (fresh ids every batch) can pass
    * `checkMoved = false`; a detected reassignment means the corpus
    * drifted — re-ingest via [[reassignIvfIndex]] or re-train via
    * [[ivfBuild]] + [[writeIvfIndex]]. */
  def appendToIvfIndex(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String,
      checkMoved: Boolean = true): Unit =
    clusterAppend(repo, batch, idCol, vecCol, schema, s"${name}_ivf", Seq("id", "cluster"),
      Option.when(checkMoved)(s"appendToIvfIndex($schema/$name)" ->
        ("Use reassignIvfIndex (bounded rewrite of the old + new cluster " +
          "partitions), re-train via ivfBuild + writeIvfIndex if the corpus drifted"))) {
      val index = readIvfIndex(repo, schema, name)
      (index.assigned, index.centroids, identity)
    }

  /** The keyed append ([[KeyedAppend]]) of an embedding batch into the
    * cluster-partitioned `table`, which `read` reads (rows, centroids,
    * the batch's encoding) after a crashed earlier commit is healed, so
    * the probe sees every indexed row. The batch's ids take the index's
    * type, so the probe's matches compare like values; it is assigned,
    * encoded and materialized once (the probe's collect and the write
    * must see the same rows, whatever the batch does on re-execution).
    *
    * `guard` (the operation and its remedy) is the moved-cluster guard:
    * it fails, before anything is written, when an indexed row of a
    * batch id sits in another cluster than the batch assigns the id to,
    * a stale row no rewritten partition would drop. */
  private def clusterAppend(repo: graft.sources.PqRepo, batch: DataFrame, idCol: String,
      vecCol: String, schema: String, table: String, key: Seq[String],
      guard: Option[(String, String)])(
      read: => (DataFrame, Seq[(Int, Seq[Double])], DataFrame => DataFrame)): Unit = {
    repo.recover(schema, table)
    val (index, cents, encode) = read
    val append = new KeyedAppend(repo, schema, table, index,
      Dedup.materializeOnce(encode(assignClusters(
        batch.select(col(idCol).cast(index.schema("id").dataType).as("id"),
          col(vecCol).as("v")), cents))),
      key, partition = "cluster")
    val indexed = append.probe()
    guard.foreach { case (op, remedy) =>
      val batchClusters = append.rows.groupMap(_.head)(append.value(_, "cluster"))
      val moved = indexed.iterator.flatMap { r =>
        val old = append.value(r, "cluster")
        batchClusters.getOrElse(r.head, Nil).filter(_ != old).map(c => s"${r.head}: $old -> $c")
      }.take(5).toSeq
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"$op: batch re-ingests ids whose embeddings moved clusters " +
            s"[${moved.mkString(", ")}${if (moved.length == 5) ", …" else ""}] — " +
            "the stale rows would survive in partitions this append never " +
            s"rewrites. $remedy, or pass checkMoved = false only for " +
            "provably append-only feeds")
    }
    append.land(indexed)
  }

  /** Re-ingest a batch whose embeddings may have MOVED clusters — the
    * remedy [[appendToIvfIndex]]'s moved-id guard points at, short of a
    * full re-train (r13). Centroids stay frozen (the index geometry is
    * unchanged — a drifted CORPUS still re-trains via [[ivfBuild]]);
    * what changes is membership: each batch id lands exactly once, in
    * the cluster its new embedding assigns to, and its stale row is
    * deleted from the old cluster partition.
    *
    * Scale shape — a bounded rewrite, not a rebuild: [[appendToIvfIndex]]'s
    * keyed append, keyed on `id` alone and unguarded. Its probe finds
    * every indexed row of a batch id, so the stale rows' clusters are
    * rewritten and each batch row lands in its new one; a new id is an
    * insert, and a null id rewrites only the cluster its row lands in.
    * Untouched cluster partitions are never read or rewritten
    * (byte-identical on disk — spec-verified), and every crash point
    * recovers exactly like [[appendToIvfIndex]]'s. */
  def reassignIvfIndex(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String): Unit =
    clusterAppend(repo, batch, idCol, vecCol, schema, s"${name}_ivf", Seq("id"), None) {
      val index = readIvfIndex(repo, schema, name)
      (index.assigned, index.centroids, identity)
    }

  /** Incrementally append/upsert a batch into a persisted quantized
    * index: codes derive only from the batch, and the bucket-scoped repo
    * merge replaces rows by id — re-quantizing an updated document's
    * embedding updates its codes in place.
    *
    * Scale shape: the batch's ids take the index's type, and it is coded
    * once (materialized) and bucketed with the modulus recorded in the
    * index's meta sidecar. It lands through the repo's keyed append
    * ([[KeyedAppend]]) on (id, bucket): a probe pruned to the batch's
    * buckets finds the ids already indexed, new ids land as new files,
    * and only a bucket holding a re-ingested id is rewritten — other
    * buckets' files stay byte-identical on disk (spec-verified). The
    * bucket is a pure function of the id, so a key can never move
    * partitions: whole-table upsert semantics. A missing index
    * bootstraps via [[writeQuantizedIndex]]; an index written by a
    * pre-bucketed build (no sidecar) fails loudly — rebuild it rather
    * than silently rewriting the whole table per batch. */
  def appendToQuantizedIndex(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String): Unit = {
    val table = s"${name}_q8"
    if (!repo.list(schema).contains(table))
      return writeQuantizedIndex(repo, batch, idCol, vecCol, schema, name)
    val numBuckets = repo.readTableMeta(schema, table).get(Q8BucketsProp) match {
      case Some(n) => n.toInt
      case None => throw new IllegalStateException(
        s"$schema/$table has no '$Q8BucketsProp' sidecar — it predates the " +
          "bucketed layout, or a build crashed before stamping it; rebuild " +
          "with writeQuantizedIndex before appending (a blind merge with a " +
          "guessed modulus would split ids across buckets, and a flat merge " +
          "would rewrite the entire index)")
    }
    repo.recover(schema, table)
    val index = repo.table(schema, table)
    // ids take the index's type before they are bucketed and probed
    val append = new KeyedAppend(repo, schema, table, index,
      Dedup.materializeOnce(quantize(
        batch.select(col(idCol).cast(index.schema(idCol).dataType).as(idCol), col(vecCol)),
        idCol, vecCol).withColumn("bucket", q8Bucket(idCol, numBuckets))),
      key = Seq(idCol, "bucket"), partition = "bucket")
    append.land(append.probe(inSet(col("bucket"), append.values("bucket"))))
  }

  /** Reload a persisted IVF index in one Spark job, the centroid collect.
    * The centroid pull is index-sized (≤ numCentroids × dim doubles); the
    * assigned corpus stays a lazy partitioned scan, cluster-prunable by
    * [[ivfSearch]]'s probe join. Both tables resolve on the driver
    * ([[graft.sources.PqRepo.table]]): the cluster partition directories
    * are listed one after another by the driver and the schema is read
    * from one footer, so neither table costs a listing or
    * schema-inference job. */
  def readIvfIndex(
      repo: graft.sources.PqRepo, schema: String, name: String): IvfIndex = {
    val cents = repo.table(schema, s"${name}_ivf_centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1)
      .toSeq
    IvfIndex(cents, repo.table(schema, s"${name}_ivf"))
  }

  /** Sampled recall@k observability result — the ANN sibling of
    * Packing's MixStats / Dedup's ComponentsStats: `recall` =
    * `hits / possible`, where `possible = nQueries × k` truth entries
    * (fewer when the corpus is smaller than k+1). */
  final case class RecallStats(
      nQueries: Long, k: Int, hits: Long, possible: Long, recall: Double)

  /** Estimate an index's recall@k in PRODUCTION, where the spec-pinned
    * fixed-corpus recalls (partial nprobe, LSH multi-table, quantized
    * partial depth) are invisible (r13): a deterministic pseudo-random
    * query sample (`xxhash64` order — the [[ivfBuild]] seeding pattern:
    * TakeOrdered of `sampleQueries` rows, no count pass, no RNG
    * nondeterminism across runs) gets brute-force ground truth
    * ([[bruteForceTopK]] — ONE broadcast-sample pass over the corpus,
    * the only full scan here) joined against whatever `search` returns
    * for those same queries. One bounded action computes hits, possible,
    * and the estimate.
    *
    * `search` receives the sampled query rows (corpus schema) and
    * returns any frame with `query_id`/`cand_id` columns — pass the
    * index path under observation, e.g.
    * `q => ivfSearch(index, q, id, vec, k, nprobe)`. Extra candidates
    * beyond rank k are NOT penalized (recall, not precision); duplicate
    * (query, cand) rows are collapsed. Cosine ties at the k-th rank may
    * legitimately cost a few hundredths — this is an estimator, not an
    * oracle. */
  def recallEstimate(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleQueries: Int)(
      search: DataFrame => DataFrame): RecallStats = {
    val sample = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleQueries)
    val truth = bruteForceTopK(corpus, sample, idCol, vecCol, k)
      .select(col("query_id"), col("cand_id"))
    val approx = search(sample)
      .select(col("query_id"), col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("__hit", lit(1L))
    val row = truth
      .join(approx, Seq("query_id", "cand_id"), "left")
      .agg(count(lit(1)).as("possible"), sum(col("__hit")).as("hits"),
        countDistinct(col("query_id")).as("nq"))
      .head()
    val possible = row.getLong(0)
    val hits = if (row.isNullAt(1)) 0L else row.getLong(1)
    RecallStats(row.getLong(2), k, hits, possible,
      if (possible == 0) 1.0 else hits.toDouble / possible)
  }

  /** Embedding-cosine near-duplicate REMOVAL: hyperplane-LSH candidate
    * pairs above `minCos` → connected components → keep each component's
    * smallest id. The embedding-space sibling of
    * [[Dedup.dropNearDuplicates]]. */
  def dropEmbeddingDuplicates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      numPlanes: Int = 0,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame =
    dropEmbeddingDuplicatesWithStats(
      corpus, idCol, vecCol, minCos, numPlanes, dim, seed)._1

  /** [[dropEmbeddingDuplicates]] plus the label-propagation
    * [[Dedup.ComponentsStats]] (exact at return time — the component loop
    * is eager), so a large run can assert convergence instead of
    * trusting executor-log warnings. */
  def dropEmbeddingDuplicatesWithStats(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      numPlanes: Int = 0,
      dim: Int = 64,
      seed: Long = 42L,
      maxIters: Int = 10,
      failOnNonConvergence: Boolean = false
  ): (DataFrame, Dedup.ComponentsStats) = {
    // autoFloor 8 = this entry point's pre-auto fixed default, so default
    // callers keep their old small-corpus recall exactly
    val pairs = annBuckets(corpus, idCol, vecCol, numPlanes, dim, seed, minCos,
      autoFloor = 8)
    Dedup.dropComponentLosers(corpus, idCol, pairs, maxIters,
      reliableCheckpoint = false, failOnNonConvergence)()
  }

  /** Hyperplane count for an LSH pass over `n` vectors when the caller
    * passes `numPlanes = 0` (auto): `ceil(log2(n / 64))` clamped to
    * [floor, 24], i.e. expected bucket occupancy held near 64 regardless
    * of corpus size. In-bucket candidate generation is O(occupancy²) per
    * bucket, so a FIXED plane count turns a 5× corpus into ~25× the
    * pairing work — the 100×-scale run measured exactly that (14× wall
    * on 5× data) before this lever. Each entry point passes its pre-auto
    * fixed default as `floor`, so small-corpus bucketing is at least as
    * fine as that entry point's old behavior: co-bucketing never widens,
    * a bucket that stayed under `maxBucket` before cannot newly overflow,
    * and a threshold-crossing rounded cosine can only be pruned, never
    * added — the oracle-safety argument for auto mode. */
  private[operators] def autoPlanes(n: Long, floor: Int): Int =
    math.min(24, math.max(floor,
      math.ceil(math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt))

  /** Distinct-vector collapse with the degenerate-group guard. Returns
    * (bucket entries `(v, ids)`, equal-vector pairs `(id_a, id_b, cos)`,
    * corpus row count — read from the guard's probe, so auto-plane
    * callers pay no extra count job).
    *
    * The machinery — probe over `xxhash64` 8-byte keys, salted two-phase
    * assembly for any group past `maxEqualGroup`, per-salt stars chained
    * through the group minimum, exact reassembly of hash-collision
    * misroutes — is [[Dedup.collapseByKey]], shared with the MinHash and
    * SimHash collapses; this wrapper only renames the key to `v` and
    * scores each equal-vector pair with its (self-)cosine: a pair of
    * identical zero vectors scores 0.0 and null-element vectors score
    * null, exactly as the in-bucket expression would have scored them. */
  private[operators] def collapseByVector(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      maxEqualGroup: Int,
      saltBuckets: Int = 64
  ): (DataFrame, DataFrame, Long) = {
    val (entries, pairsK, total) = Dedup.collapseByKey(
      corpus.select(col(vecCol).as("k"), col(idCol).as("id")),
      maxEqualGroup, saltBuckets)
    val equalPairs = pairsK
      .select(col("id_a"), col("id_b"),
        roundedCosine(col("k"), col("k")).as("cos"))
      .filter(col("cos") >= minCos)
    (entries.select(col("k").as("v"), col("ids")), equalPairs, total)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with k-means, compare
    * pairwise cosine only WITHIN clusters, and keep one representative
    * (smallest id) per near-duplicate component. The cluster-then-dedup
    * form is the published scale recipe; it composes from pieces that
    * already exist here — [[KMeans.parallelSeeds]]/[[KMeans
    * .refineLattice]] for the clustering, the [[collapseByVector]]
    * duplicate-crowding guard, [[Dedup.componentsWithStats]] for the
    * keep-min collapse.
    *
    * Scale shape: `numClusters = 0` auto-scales k so expected cluster
    * occupancy stays near 4096 (capped at 256 clusters — assignment is
    * O(n·k·d), so k must stay bounded); within a cluster, pairwise
    * scoring is bounded the way [[annBuckets]] bounds it — when expected
    * occupancy exceeds ~64, hyperplane sub-bucketing splits the cluster
    * (planes from [[autoPlanes]] over the occupancy), so the quadratic
    * in-bucket term never grows with the corpus. On small corpora the
    * plane count is 0 and the comparison is the paper's exact
    * within-cluster pairwise. Equal-vector pairs are emitted
    * unconditionally from the collapse (no cluster cap or sub-bucket
    * split can lose an exact duplicate); clustering trains on DISTINCT
    * vectors, so a million boilerplate copies pull no centroid.
    * Deviation from the paper, documented: within oversized clusters the
    * comparison is LSH-bounded rather than exhaustive — exhaustive
    * pairwise over a 100 TB cluster is the all-pairs shape this engine
    * bans; near-dup (non-identical) recall is property-specced in
    * SimilaritySpec, not oracled. */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      numClusters: Int = 0,
      refineIters: Int = 2,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame =
    semanticDedupWithStats(corpus, idCol, vecCol, minCos, numClusters,
      refineIters, dim, seed)._1

  /** [[semanticDedup]] plus the label-propagation
    * [[Dedup.ComponentsStats]] — the [[dropEmbeddingDuplicatesWithStats]]
    * convention. The clustered frame is materialized once
    * ([[Dedup.materializeOnce]]): seeding, refinement, assignment, and
    * pairing all scan it, and each would otherwise replay the collapse
    * shuffle. */
  def semanticDedupWithStats(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      numClusters: Int = 0,
      refineIters: Int = 2,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucket: Int = 2000,
      maxEqualGroup: Int = 2000,
      maxIters: Int = 10,
      failOnNonConvergence: Boolean = false
  ): (DataFrame, Dedup.ComponentsStats) = {
    val (byVec, equalPairs, total) = collapseByVector(
      corpus, idCol, vecCol, minCos, maxEqualGroup)
    val k =
      if (numClusters > 0) numClusters
      else math.min(256L, math.max(8L, total / 4096L)).toInt
    // one distinct-vector frame feeds every downstream scan; the id for
    // the seeding hash draw is the group's smallest member id (any
    // deterministic id works — it only seeds the Lehmer priority)
    val qd = Dedup.materializeOnce(byVec.select(col("v"), col("ids"),
      KMeans.latticeQuantize(col("v"), 64).as("q"),
      array_min(col("ids")).cast("long").as("id")))
    val seeds = KMeans.parallelSeeds(qd, "id", "q", k)
    val cents =
      if (refineIters > 0)
        KMeans.refineLattice(qd.select("q"), "q", seeds, refineIters)
          .map(c => (c._1, c._2))
      else seeds
    // sub-bucket only when expected occupancy overflows the quadratic
    // budget; planes = 0 means the whole cluster is one bucket (exact
    // pairwise — the paper's comparison)
    val planes = autoPlanes(math.max(1L, total / k), floor = 0)
    val bucketCol =
      if (planes == 0) lit(0L)
      else VectorFunctions.lshBucket(col("v"),
        VectorFunctions.hyperplanes(planes, dim, seed))
    val bucketed = qd.select(col("v"), col("ids"),
      KMeans.assignLattice(col("q"), cents).as("cluster"),
      bucketCol.as("bucket"))
    // in-bucket scoring: the annBuckets kernel — vectors never ride an
    // exploded row
    val crossPairs = Dedup.bucketPairs(bucketed, Seq("cluster", "bucket"),
      "v", roundedCosine, _ >= minCos, "cos", maxBucket)
    Dedup.dropComponentLosers(corpus, idCol,
      equalPairs.unionByName(crossPairs), maxIters,
      reliableCheckpoint = false, failOnNonConvergence)()
  }

  /** Cosine rounded to 6 places: the score every similarity search and
    * near-dup path here reports and filters on. */
  private def roundedCosine(x: Column, y: Column): Column =
    round(VectorFunctions.cosine(x, y), 6)

  /** LSH-bucketed approximate neighbors: candidates share a hyperplane
    * sign-pattern bucket; cosine is computed only within buckets. Recall
    * is tuned by `numPlanes` (fewer planes → bigger buckets → higher
    * recall, more work) and `numTables`.
    *
    * `numPlanes = 0` picks the plane count from the corpus size
    * ([[autoPlanes]], never below `autoFloor`) — the scale lever: bucket
    * occupancy, and with it the quadratic in-bucket pairing cost, stays
    * bounded as the corpus grows instead of the resolution silently
    * falling behind.
    *
    * `numTables > 1` buckets each vector once per independent hyperplane
    * table in a single pass (posexplode over the per-table bucket ids —
    * the corpus is scanned once, not L times). A candidate pair surfaces
    * if it collides in ANY table, so recall is
    * `1-(1-p^numPlanes)^numTables` instead of `p^numPlanes` — the
    * standard recall lever when one table's single bucket per vector is
    * too lossy. Pairs deduplicate across tables via a final
    * (id_a, id_b) max; one table cannot surface a pair twice and skips it.
    *
    * Vectors collapse to DISTINCT values before bucketing (ids ride as
    * lists) — the duplicate-crowding guard the sketch deduppers carry:
    * equal-vector pairs are emitted unconditionally from their group, so
    * no `maxBucket` cap can drop an exact-duplicate pair, and `maxBucket`
    * guards only genuine distinct-vector bucket crowding. In-bucket
    * scoring stays an array expression ([[Dedup.bucketPairs]]) — a
    * self-join would re-execute the projection pipeline per side. */
  def annBuckets(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int = 0,
      dim: Int = 64,
      seed: Long = 42L,
      minCos: Double = 0.0,
      maxBucket: Int = 2000,
      maxEqualGroup: Int = 2000,
      autoFloor: Int = 8,
      numTables: Int = 1
  ): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1 (got $numTables)")
    // Collapse to DISTINCT vectors before bucketing — the same
    // duplicate-crowding guard minhashPairs and simhashPairs carry (their
    // 20x-scale lesson applies verbatim here): a million copies of one
    // boilerplate embedding land ONE entry in their bucket instead of a
    // million, where per-row bucketing would blow the bucket past
    // `maxBucket` and silently drop exactly the duplicate pairs
    // dropEmbeddingDuplicates exists to find. Equal-vector groups emit
    // their pairs unconditionally (no bucket cap can lose them, and they
    // collide in EVERY table); cos is computed, not assumed 1.0: a pair of
    // identical zero vectors scores 0.0 and null-element vectors score
    // null, exactly as the in-bucket expression scored them before the
    // collapse. [[collapseByVector]] salts any group past `maxEqualGroup`
    // so no aggregation buffer holds a whole degenerate group.
    val (byVec, equalPairs, total) = collapseByVector(
      corpus, idCol, vecCol, minCos, maxEqualGroup)

    // auto plane count reads the corpus size off the collapse's probe —
    // no dedicated count job over the corpus lineage; the autoFloor
    // default is 8, every pre-auto caller's fixed plane count (r11:
    // reverted from a silent 12 — a raised floor can only prune
    // candidates, i.e. silently reduce recall for existing numPlanes=0
    // callers; entry points wanting finer small-corpus bucketing opt in)
    val p = if (numPlanes > 0) numPlanes else autoPlanes(total, autoFloor)
    val tablePlanes = (0 until numTables).map(t =>
      VectorFunctions.hyperplanes(p, dim, seed + t))

    // distinct vectors share exactly one bucket per table, and
    // equal-vector pairs never enter a bucket, so only several tables can
    // surface a pair twice
    if (numTables == 1) {
      val bucketed = byVec.select(col("v"), col("ids"),
        VectorFunctions.lshBucket(col("v"), tablePlanes.head).as("bucket"))
      equalPairs.unionByName(Dedup.bucketPairs(bucketed, Seq("bucket"), "v",
        roundedCosine, _ >= minCos, "cos", maxBucket))
    } else {
      val bucketed = byVec.select(col("v"), col("ids"),
        posexplode(array(tablePlanes.map(pl =>
          VectorFunctions.lshBucket(col("v"), pl)): _*)).as(Seq("tbl", "bucket")))
      equalPairs.unionByName(Dedup.bucketPairs(bucketed, Seq("tbl", "bucket"),
        "v", roundedCosine, _ >= minCos, "cos", maxBucket)
        .groupBy("id_a", "id_b")
        .agg(max(col("cos")).as("cos")))
    }
  }

  // ===== product quantization (IVF-PQ) ======================================
  //
  // Scalar int8 ([[quantize]]) cuts embedding storage 4×; product
  // quantization (Jégou et al. 2011) cuts it 16–64×: a d-dim vector
  // becomes m codebook indices (m bytes at ksub ≤ 256) and search scores
  // candidates through a per-query lookup table (ADC) — the standard
  // memory story for a 100 TB embedding corpus. Composes with the IVF
  // layout: the persisted IVF-PQ index partitions (id, cluster, codes)
  // by cluster, so a probe reads only its nprobe partitions AND only
  // m bytes per row — the float corpus is touched exclusively by the
  // candidate-restricted exact rerank.

  /** Trained PQ codebooks: `books(s)(c)` is subspace `s`'s codeword `c`
    * (dsub doubles). Rectangular by construction of [[pqTrain]]. */
  final case class PqCodebooks(books: Seq[Seq[Seq[Double]]]) {
    def m: Int = books.size
    def ksub: Int = if (books.isEmpty) 0 else books.head.size
    def dsub: Int = if (books.isEmpty || books.head.isEmpty) 0
      else books.head.head.size
    def dim: Int = m * dsub
  }

  /** Train PQ codebooks on a DETERMINISTIC bounded sample of the corpus
    * — the standard PQ practice (FAISS trains codebooks on a subsample;
    * k-means over ksub centroids saturates long before corpus scale) and
    * the established bounded-pull pattern ([[ivfBuild]]'s seed collect,
    * the BPE merge table): `sampleRows × dim` doubles ride to the
    * driver, the corpus itself is never collected. The sample is the
    * first `sampleRows` rows in `xxhash64(id)` order
    * (TakeOrderedAndProject — no count pass, layout-independent), so
    * training is bit-reproducible across runs and cluster layouts.
    *
    * Per subspace: seeds are the first ksub DISTINCT subvectors in
    * sample order (fewer distinct values → a smaller book, padded back
    * to rectangular after training — see below), refined by
    * `kmeansIters` Lloyd iterations
    * (argmin-L2 assignment with lowest-code tie-break, mean update,
    * empty cluster keeps its codeword) — all driver-side on the bounded
    * sample, deterministic.
    *
    * `dim` must divide by `m` (contiguous equal subspaces); a mixed-dim
    * sample fails loudly — codebooks over inconsistent geometry would
    * encode garbage silently. */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      kmeansIters: Int = 8,
      sampleRows: Int = 4096): PqCodebooks = {
    require(m > 0, s"m must be positive, got $m")
    require(ksub > 1, s"ksub must be > 1, got $ksub")
    require(sampleRows >= ksub,
      s"sampleRows ($sampleRows) must be >= ksub ($ksub)")
    val sample = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleRows)
      .collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"pqTrain: mixed vector dimensions in the training sample " +
        s"(expected $dim) — codebooks over inconsistent geometry would " +
        "silently encode garbage")
    require(dim % m == 0,
      s"pqTrain: dim $dim is not divisible by m=$m subspaces")
    val dsub = dim / m

    val books = (0 until m).map { s =>
      val off = s * dsub
      val data = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      // first-ksub DISTINCT seeding in sample order
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
      val it = data.iterator
      while (seen.size < ksub && it.hasNext) seen += it.next().toSeq
      var cents = seen.toArray.map(_.toArray)
      for (_ <- 1 to kmeansIters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        data.foreach { x =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var dist = 0.0
            var j = 0
            while (j < dsub) {
              val dlt = x(j) - cents(c)(j); dist += dlt * dlt; j += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += x(j); j += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents.map(_.toSeq).toSeq
    }
    // RECTANGULARITY: a subspace with fewer than ksub DISTINCT subvectors
    // seeds a smaller codebook; if subspaces end up with differing sizes
    // the result would be non-rectangular and every consumer
    // (PqEncode/PqLut/PqAdcScore checkBooks) rejects it at analysis time
    // with a failure far from the cause. Pad each short book by repeating
    // its LAST codeword up to the max size: encode's lowest-code
    // tie-break means a duplicate codeword is never emitted, so padding
    // is semantically inert — it only restores the rectangular shape.
    val maxK = books.map(_.size).max
    val padded = books.map { b =>
      if (b.size == maxK) b else b ++ Seq.fill(maxK - b.size)(b.last)
    }
    PqCodebooks(padded)
  }

  /** Append a `__rv = v − centroid[cluster]` residual column to an
    * assigned `(…, cluster, v)` frame — the IVFADC encoding input
    * (Jégou et al. 2011 §IV-A). A broadcast join with the
    * centroid-count-sized table plus one codegen'd `zip_with`: no
    * shuffle, corpus never collected. */
  private[operators] def withResidual(
      assigned: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cluster", "__cv"))
    assigned.join(cdf, "cluster")
      .withColumn("__rv",
        zip_with(col("v").cast("array<double>"), col("__cv"), (a, b) => a - b))
      .drop("__cv")
  }

  /** [[pqTrain]] over RESIDUALS x − centroid[cluster] of an IVF
    * assignment — the classical IVFADC codebook: residuals concentrate
    * in a ball around the origin, so the ksub codewords spend their
    * resolution on LOCAL detail instead of re-describing the coarse
    * cluster offsets, which materially improves recall at equal m (the
    * [[SimilaritySpec]] recall-dominance planting). Same bounded
    * deterministic sampling as [[pqTrain]]. */
  def pqTrainResidual(
      index: IvfIndex,
      m: Int,
      ksub: Int = 256,
      kmeansIters: Int = 8,
      sampleRows: Int = 4096): PqCodebooks =
    pqTrain(withResidual(index.assigned, index.centroids), "id", "__rv",
      m, ksub, kmeansIters, sampleRows)

  /** PQ-encode the corpus: (idCol, codes array<int> of length m). One
    * shuffle-free kernel projection ([[VectorFunctions.pqEncode]]) —
    * the codebooks ride the expression, nothing joins. */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      books: PqCodebooks): DataFrame =
    corpus.select(col(idCol),
      VectorFunctions.pqEncode(col(vecCol), books.books).as("codes"))

  /** PQ ADC top-k with exact rerank — the [[quantizedTopK]] shape over
    * 16–64×-smaller storage: the coarse pass scans only the m-byte codes
    * (per query: one LUT projection, then m table lookups per
    * candidate), keeps the best `rerankDepth` per query, and the exact
    * pass reranks only those candidates' float vectors.
    * `rerankDepth >= corpus size` ≡ [[bruteForceTopK]] — the oracle
    * hook. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: PqCodebooks,
      k: Int,
      rerankDepth: Int
  ): DataFrame = pqTopKIndexed(
    pqEncode(corpus, idCol, vecCol, books), corpus, queries, idCol, vecCol,
    books, k, rerankDepth)

  /** Candidate lists (query_id, cand_id) broadcast to the rerank join
    * only below this rerankDepth: the list is |queries| × rerankDepth
    * rows through the driver, and rerankDepth is a caller-controlled
    * knob — the rerank-all oracle configuration on a big corpus would
    * exceed broadcast/driver limits. Above the bound the join goes
    * hint-free and AQE picks the strategy (it will still broadcast a
    * genuinely small list — the hint is the only thing dropped). */
  private val RerankBroadcastBound = 1 << 16

  private def maybeBroadcast(df: DataFrame, rerankDepth: Int): DataFrame =
    // above the broadcast bound the list still hash-builds per partition
    // (12 B/row over the shuffle partition count): SHUFFLE_HASH (r20,
    // guide §3.1) — the previously hint-free join fell to a sort-merge
    // at 100× that sorted the float corpus by candidate id
    if (rerankDepth <= RerankBroadcastBound) broadcast(df)
    else df.hint("shuffle_hash")

  /** [[pqTopK]] over a PREBUILT (id, codes) frame — the persisted-index
    * search path ([[readPqIndex]]): the coarse pass never re-encodes or
    * touches the float corpus. */
  def pqTopKIndexed(
      coded: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: PqCodebooks,
      k: Int,
      rerankDepth: Int
  ): DataFrame = {
    // LUT below the join: m·ksub dots once per QUERY, not per pair
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.pqLut(col(vecCol), books.books).as("__lut")))
    // fanOutDense (r21): the ADC kernel over a low-row-group coded scan
    // otherwise runs on the row-group-count tasks (see quantizedTopKIndexed)
    val cands = q.crossJoin(Dedup.fanOutDense(
        coded.select(col(idCol).as("cand_id"), col("codes")), col("cand_id")))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        VectorFunctions.pqAdcScore(col("__lut"), col("codes"), books.books)
          .as("coarse"))
      .groupBy("query_id")
      .agg(VectorFunctions.boundedTopK(
        col("coarse"), col("cand_id"), rerankDepth).as("__top"))
      .select(col("query_id"), explode(col("__top.id")).as("cand_id"))

    val exact = Dedup.fanOutDense(
        corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        col("cand_id"))
      .join(maybeBroadcast(cands, rerankDepth), "cand_id")
      .join(q.select(col("query_id"), col("qv")), "query_id")
      .select(col("query_id"), col("cand_id"),
        roundedCosine(col("qv"), col("cv")).as("cos"))

    rankTopK(exact, "cos", k)
  }

  /** Codebooks as data: (subspace, code, cw array<double>) — the side
    * table a persisted PQ index stores its geometry in. */
  private def booksToDF(
      spark: org.apache.spark.sql.SparkSession,
      books: PqCodebooks): DataFrame = {
    import spark.implicits._
    books.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cw, c) => (s, c, cw) }
    }.toDF("subspace", "code", "cw")
  }

  private def booksFromDF(df: DataFrame): PqCodebooks =
    PqCodebooks(df.collect() // codebook-sized: m × ksub × dsub doubles
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq))

  /** Persist an IVF-PQ index: (id, cluster, codes) PARTITIONED BY
    * cluster — a probe prunes to its nprobe partitions at the scan AND
    * reads m-byte codes instead of d-float vectors — plus centroid and
    * codebook side tables (`<name>_ivfpq{,_centroids,_books}`), all
    * through the repo's atomic tmp+promote. The float corpus is NOT part
    * of the index: the exact rerank joins it by candidate id. */
  def writeIvfPqIndex(
      repo: graft.sources.PqRepo,
      index: IvfIndex,
      books: PqCodebooks,
      schema: String,
      name: String,
      residual: Boolean = false): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // residual = true is IVFADC proper: codes quantize x − centroid
    // (codebooks from [[pqTrainResidual]]); the flag is PERSISTED in a
    // 1-row meta table so read/search/append recover the layout from
    // disk — a caller-supplied flag could silently mis-decode an index
    // written the other way.
    val coded =
      if (residual)
        withResidual(index.assigned, index.centroids)
          .select(col("id"), col("cluster"),
            VectorFunctions.pqEncode(col("__rv"), books.books).as("codes"))
      else index.assigned.select(col("id"), col("cluster"),
        VectorFunctions.pqEncode(col("v"), books.books).as("codes"))
    // the corpus-sized coded write and the three geometry-sized side
    // tables are disjoint outputs: overlapped (guide §2.6) the side
    // writes' per-job floors hide under the coded scan instead of
    // stacking after it
    graft.Par.run2(
      repo.write(coded, schema, s"${name}_ivfpq", partitionCols = Seq("cluster")), {
        repo.write(index.centroids.toDF("cid", "cv"), schema,
          s"${name}_ivfpq_centroids")
        repo.write(booksToDF(spark, books), schema, s"${name}_ivfpq_books")
        repo.write(Seq(residual).toDF("residual"), schema, s"${name}_ivfpq_meta")
      })
  }

  /** A reloaded persisted IVF-PQ index: geometry + lazy coded scan +
    * the persisted residual flag (IVFADC vs raw-vector codes). */
  final case class IvfPqIndexData(
      centroids: Seq[(Int, Seq[Double])],
      books: PqCodebooks,
      coded: DataFrame,
      residual: Boolean)

  /** Reload a persisted IVF-PQ index. Centroid + codebook pulls are
    * index-geometry-sized; the coded corpus stays a cluster-partitioned
    * lazy scan. The residual flag comes from the persisted meta table
    * (absent on pre-residual indexes → false), so search and append
    * decode with the layout the index was WRITTEN with, not whatever a
    * caller believes. */
  def readIvfPqIndex(
      repo: graft.sources.PqRepo,
      schema: String,
      name: String): IvfPqIndexData = {
    // three geometry-sized collects over disjoint side tables, overlapped
    // (guide §2.6): one per-job floor instead of three in sequence
    val (cents, books, residual) = graft.Par.run3(
      repo.table(schema, s"${name}_ivfpq_centroids")
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .sortBy(_._1)
        .toSeq,
      booksFromDF(repo.table(schema, s"${name}_ivfpq_books")),
      scala.util.Try(
        repo.table(schema, s"${name}_ivfpq_meta")
          .collect().head.getBoolean(0)).getOrElse(false))
    IvfPqIndexData(cents, books, repo.table(schema, s"${name}_ivfpq"), residual)
  }

  /** Incrementally APPEND a batch to a persisted IVF-PQ index — the
    * daily-embedding-batch primitive of [[appendToIvfIndex]] for the
    * PQ layout: the batch assigns against the FROZEN centroids and
    * encodes with the FROZEN codebooks (the index geometry is fixed
    * between re-trains — a drifted corpus re-trains via [[ivfBuild]] +
    * [[pqTrain]] + [[writeIvfPqIndex]]). The coded batch is
    * materialized once and lands exactly as [[appendToIvfIndex]]'s does,
    * guarded by the same `checkMoved`: a re-ingested id whose embedding
    * moved clusters would leave its stale codes in an untouched
    * partition. */
  def appendToIvfPqIndex(
      repo: graft.sources.PqRepo,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      schema: String,
      name: String,
      checkMoved: Boolean = true): Unit =
    clusterAppend(repo, batch, idCol, vecCol, schema, s"${name}_ivfpq", Seq("id", "cluster"),
      Option.when(checkMoved)(s"appendToIvfPqIndex($schema/$name)" ->
        "Re-train via ivfBuild + pqTrain + writeIvfPqIndex if the corpus drifted")) {
      val IvfPqIndexData(cents, books, coded, residual) = readIvfPqIndex(repo, schema, name)
      // encode with the layout the index was WRITTEN with: a residual
      // index's batch quantizes x − centroid under the same frozen
      // geometry (the flag comes from the persisted meta, never the caller)
      (coded, cents, assigned =>
        if (residual)
          withResidual(assigned, cents).select(col("id"), col("cluster"),
            VectorFunctions.pqEncode(col("__rv"), books.books).as("codes"))
        else assigned.select(col("id"), col("cluster"),
          VectorFunctions.pqEncode(col("v"), books.books).as("codes")))
    }

  /** IVF-PQ search over a persisted index: each query probes its
    * `nprobe` nearest clusters (the partition-pruned equi-join of
    * [[ivfSearch]]), ADC-scores ONLY the probed clusters' codes
    * (m lookups per candidate; the scan reads id/cluster/codes — no
    * floats), keeps `rerankDepth` candidates, then reranks exactly on
    * the float corpus. `nprobe >= numCentroids` AND
    * `rerankDepth >= corpus` ≡ [[bruteForceTopK]] — the composed oracle
    * hook ([[ivfSearch]]'s nprobe-all × [[quantizedTopK]]'s
    * rerank-all). */
  def ivfPqSearch(
      centroids: Seq[(Int, Seq[Double])],
      books: PqCodebooks,
      coded: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      rerankDepth: Int,
      residual: Boolean = false): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorFunctions.pqLut(col(vecCol), books.books).as("__lut"))
    // residual (IVFADC): the LUT shift per (query, probed centroid) is
    // ⟨q, centroid⟩, computed ONCE per probe row (|queries| · nprobe
    // dots) before the candidate join — the per-candidate cost stays
    // m lookups through [[VectorFunctions.pqAdcResidualScore]]'s
    // precomputed centroid×codeword cross tables.
    val probesBase = q.select(col("query_id"), col("qv"), col("__lut"),
      explode(VectorFunctions.nearestCentroids(
        col("qv"), centroids, nprobe)).as("cluster"))
    val probes =
      if (residual) {
        val spark = queries.sparkSession
        import spark.implicits._
        probesBase
          .join(broadcast(centroids.toDF("cluster", "__cv")), Seq("cluster"))
          .select(col("cluster"), col("query_id"), col("__lut"),
            VectorFunctions.dot(col("qv"), col("__cv")).as("__qdotc"))
      } else probesBase.select(col("cluster"), col("query_id"), col("__lut"))

    val cands = broadcast(probes)
      .join(coded, Seq("cluster"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("cand_id"),
        (if (residual)
          VectorFunctions.pqAdcResidualScore(col("__lut"), col("codes"),
            col("cluster"), col("__qdotc"), books.books, centroids)
        else
          VectorFunctions.pqAdcScore(col("__lut"), col("codes"), books.books))
          .as("coarse"))
      .groupBy("query_id")
      .agg(VectorFunctions.boundedTopK(
        col("coarse"), col("cand_id"), rerankDepth).as("__top"))
      .select(col("query_id"), explode(col("__top.id")).as("cand_id"))

    val exact = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .join(maybeBroadcast(cands, rerankDepth), "cand_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("cand_id"),
        roundedCosine(col("qv"), col("cv")).as("cos"))

    rankTopK(exact, "cos", k)
  }

  /** [[ivfPqSearch]] over a reloaded index — decodes with the PERSISTED
    * residual flag, so a caller cannot pair raw-vector scoring with
    * residual codes (or vice versa). */
  def ivfPqSearch(
      idx: IvfPqIndexData,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      rerankDepth: Int): DataFrame =
    ivfPqSearch(idx.centroids, idx.books, idx.coded, corpus, queries,
      idCol, vecCol, k, nprobe, rerankDepth, idx.residual)
}
