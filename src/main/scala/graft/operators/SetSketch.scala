package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinHash, TextFunctions}

/** Group-level MinHash signatures: set similarity BETWEEN GROUPS.
  *
  * Document-level MinHash ([[Dedup.minhashPairs]]) asks "which documents
  * are near-duplicates"; this asks "which GROUPS have near-identical item
  * sets" — which crawl domains share a vocabulary, which sources mirror
  * each other, which partitions carry the same entity population. Each
  * group's unbounded item set compresses to a fixed `numHashes`-long
  * signature, and signature agreement estimates Jaccard similarity, so
  * comparing groups costs O(numHashes) regardless of set size.
  *
  * Spark-first by composition: the signature is `numHashes` ordinary `min`
  * aggregates over Kirsch–Mitzenmacher double hashing `(h1 + i*h2) mod p`
  * of two independent Karp–Rabin item fingerprints — partial-aggregated
  * map-side like any min, one shuffle of `numHashes` longs per group, no
  * custom aggregate state. `min` is associative/commutative, so the
  * sketch itself is EXACT (the estimate, not the computation, carries the
  * MinHash error) — which also makes it DuckDB-oracle-able in pure
  * integer arithmetic.
  */
object SetSketch {

  private val P = 2147483647L // 2^31 - 1
  private val Mask32 = 0xFFFFFFFFL
  private val MixC = 0x45d9f3bL

  /** Second Karp–Rabin fold (base 131 mod 1e9+9), independent of
    * [[TextFunctions.fingerprint]]'s (257 mod 1e9+7) — the same
    * zero-allocation native kernel, re-based. */
  private[operators] def fingerprint2(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.RollingFingerprint(
        org.apache.spark.sql.graft.ColumnBridge.expression(c),
        base = 131L, mod = 1000000009L))

  /** Composed-Column baseline for the re-based kernel (spec twin). */
  private[operators] def fingerprint2Composed(c: Column): Column = {
    val codes = transform(split(c, ""), ch => ascii(ch).cast("bigint"))
    when(length(c) === lit(0), lit(0L))
      .otherwise(aggregate(
        slice(codes, lit(2), greatest(size(codes) - lit(1), lit(0))),
        element_at(codes, 1),
        (acc, x) => pmod(acc * lit(131L) + x, lit(1000000009L))))
  }

  /** 32-bit avalanche finisher (xor-shift-multiply, the classic
    * lowbias32 shape): Karp–Rabin folds are rolling hashes, so similar
    * strings get nearby values and the KM min order correlates across
    * hash slots — the finisher destroys that locality. Only `^ >> * &`,
    * so the DuckDB oracle replicates it bit-for-bit. */
  private[operators] def mix32(c: Column): Column = {
    def round(x: Column): Column =
      shiftright(x, 16).bitwiseXOR(x) * lit(MixC) bitwiseAND lit(Mask32)
    val r2 = round(round(c.bitwiseAND(lit(Mask32))))
    shiftright(r2, 16).bitwiseXOR(r2)
  }

  /** MinHash signature per `keyCol` group over the (implicitly distinct)
    * values of `itemCol`: `signature[i] = min over items of
    * (h1 + i*h2) mod (2^31-1)`. Duplicate items cannot change a min, so
    * pre-distincting is an optimization, not a correctness requirement. */
  def groupMinhash(
      df: DataFrame,
      keyCol: String,
      itemCol: String,
      numHashes: Int = 64): DataFrame = {
    require(numHashes >= 1 && numHashes <= 512, s"numHashes: $numHashes")
    val hashed = df.select(
      col(keyCol),
      mix32(TextFunctions.fingerprint(col(itemCol))).as("__h1"),
      mix32(fingerprint2(col(itemCol)) + lit(0x9e3779b9L)).bitwiseOR(lit(1L)).as("__h2"))
    val mins = (0 until numHashes).map(i =>
      min(pmod(col("__h1") + lit(i.toLong) * col("__h2"), lit(P))).as(s"__s$i"))
    hashed.groupBy(col(keyCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(keyCol),
        array((0 until numHashes).map(i => col(s"__s$i")): _*).as("signature"))
  }

  /** ALL group pairs with their signature-agreement count (the Jaccard
    * estimate is `n_match / numHashes`) — an O(G²) inequality self-join,
    * appropriate only when the group count is interactively small (a
    * debugging/reporting view over tens-to-hundreds of groups). The scale
    * path is [[bandedSignaturePairs]]: at crawl-domain cardinality
    * (millions of groups) G² pairs through a nested-loop join is a
    * scale-killer, and the self-join re-executes the signature pipeline
    * once per side. */
  def signaturePairs(sigs: DataFrame, keyCol: String): DataFrame = {
    val a = sigs.select(col(keyCol).as("key_a"), col("signature").as("__sa"))
    val b = sigs.select(col(keyCol).as("key_b"), col("signature").as("__sb"))
    a.join(b, col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        aggregate(
          zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_match"))
  }

  /** Candidate group pairs via LSH banding over the signatures — the
    * sub-quadratic scale path for [[signaturePairs]].
    *
    * Emits exactly the pairs whose signatures agree on at least one FULL
    * band of `r = numHashes/bands` consecutive slots, with the exact
    * slot-agreement count `n_match`. Same diamond as
    * [[Dedup.minhashPairs]] (the shape whose executed plan AQE proved
    * computes the sketch once): collapse to DISTINCT signatures (keys
    * ride as a sorted list — identical-vocabulary groups emit their pairs
    * directly at `n_match = numHashes` without ever entering a bucket),
    * band-hash the distinct signatures, group by (band, hash), pair
    * in-array inside each bucket. Deliberately NOT a self-join: both
    * consumers of the distinct-signature collapse hang off the same
    * exchange, which AQE deduplicates to a ReusedExchange, so the
    * tokenize → fingerprint → min-aggregation pipeline runs once.
    *
    * Band-hash collisions cannot leak false candidates: each bucket pair
    * is re-checked with exact slot equality on its own band before
    * scoring, so the output is a pure function of the signatures —
    * DuckDB-oracle-able with a `WHERE <band 0 equal> OR <band 1 equal>
    * OR …` clause over the same integer arithmetic.
    *
    * `maxBucket` caps a band bucket's DISTINCT-signature membership (same
    * guard as [[Dedup.minhashPairs]]): the distinct collapse bounds
    * duplicate mass, but a crowd of NEAR-identical distinct signatures —
    * mirror farms with small vocabulary drift — can still pack one bucket
    * and its in-array m² pair expansion. A bucket past the cap is dropped
    * (those pairs usually resurface through another band; a pair whose
    * every shared band is crowded is lost — the standard LSH recall
    * trade). Equal-signature pairs never enter a bucket, so the cap
    * cannot drop them. */
  def bandedSignaturePairs(
      sigs: DataFrame,
      keyCol: String,
      numHashes: Int,
      bands: Int,
      maxBucket: Int = 500): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(keyCol != "signature", "key column may not be named 'signature'")
    require(maxBucket >= 2, s"maxBucket must be >= 2 (got $maxBucket)")
    val r = numHashes / bands

    // the only wide shuffle: one fixed-width signature row per group
    val bySig = sigs.groupBy("signature")
      .agg(sort_array(collect_list(col(keyCol))).as("keys"))

    // identical signatures ⇒ every band agrees ⇒ always candidates, at the
    // maximal n_match; emitted in-array, never through a band bucket (a
    // million mirrors of one source would crowd every one of its buckets)
    val equalPairs = bySig
      .filter(size(col("keys")) >= 2)
      .select(explode(Dedup.idPairs(col("keys"))).as("p"))
      .select(col("p.id_a").as("key_a"), col("p.id_b").as("key_b"),
        lit(numHashes.toLong).as("n_match"))

    // distinct signatures sharing a band bucket: pair in-array, confirm the
    // band with exact slot equality (kills band-hash collisions), score
    val banded = bySig.select(col("signature"), col("keys"),
      posexplode(MinHash.bandHashes(col("signature"), bands, r))
        .as(Seq("band", "bh")))
    val crossPairs = banded
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("signature").as("sig"), col("keys"))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(col("band"), explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
          struct(x.getField("sig").as("sig_a"), y.getField("sig").as("sig_b"),
            x.getField("keys").as("keys_a"), y.getField("keys").as("keys_b"))))))
        .as("sp"))
      .filter(slice(col("sp.sig_a"), col("band") * lit(r) + lit(1), lit(r)) ===
        slice(col("sp.sig_b"), col("band") * lit(r) + lit(1), lit(r)))
      .select(col("sp.keys_a").as("keys_a"), col("sp.keys_b").as("keys_b"),
        // fused slot-agreement kernel — identical to the composed
        // aggregate(zip_with(...)) fold (VectorExpressionsSpec)
        MinHash.slotAgreement(col("sp.sig_a"), col("sp.sig_b")).as("n_match"))
      .select(explode(col("keys_a")).as("ka"), col("keys_b"), col("n_match"))
      .select(col("ka"), explode(col("keys_b")).as("kb"), col("n_match"))
      .select(least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"), col("n_match"))

    // a pair can surface through several bands (and never through both
    // branches: distinct signatures disagree somewhere, so cross n_match
    // < numHashes); max is a no-op dedup — every surfacing computed the
    // same exact count
    equalPairs.unionByName(crossPairs)
      .groupBy("key_a", "key_b")
      .agg(max("n_match").as("n_match"))
  }
}
