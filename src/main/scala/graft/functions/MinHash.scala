package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.expressions.{MinHashSignature, SlotAgreement}

/** MinHash signatures + banded LSH over shingle sets.
  *
  * Hash families use Kirsch–Mitzenmacher double hashing: each shingle is
  * hashed exactly twice (`a = xxhash64(s) mod 2^45`, `b = xxhash64(-1, s)
  * mod 2^45, forced odd`), and family j is `(a + j*b) mod 2^45` — so a
  * 64-slot signature costs 2 real hashes plus 64 multiply-add-mods per
  * shingle instead of 64 hashes. The 45-bit modulus keeps `j*b` far from
  * long overflow under ANSI mode while the wrap-around decorrelates the
  * families (an odd `b` cycles the full residue ring).
  *
  * The pipeline stages ([[hashPairs]] then [[signatureFromPairs]]) are
  * separate projections on purpose: inlining them would let a single
  * expression tree recompute the shingle array once per family.
  *
  * Scale shape: documents never shuffle — only `(band, bandHash, id,
  * signature)` rows do, and candidate pairs are verified on fixed-width
  * signatures before anything touches the original text.
  */
object MinHash {

  private val M = 1L << 45

  /** Per-shingle (a, b) hash pairs: array<array<bigint>>, both in [0, 2^45). */
  def hashPairs(shingles: Column): Column =
    transform(shingles, s =>
      array(
        pmod(xxhash64(s), lit(M)),
        pmod(xxhash64(lit(-1), s), lit(M)).bitwiseOR(lit(1L))))

  /** n-slot MinHash signature (array<bigint>) from precomputed hash pairs:
    * slot j = min over shingles of `(a + j*b) mod 2^45`. */
  def signatureFromPairs(hp: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(hp,
        p => pmod(element_at(p, 1) + lit(j.toLong) * element_at(p, 2), lit(M))))
    }: _*)

  /** Band hashes: array of `b` bigints, element j = hash of signature slots
    * [j*r, (j+1)*r). `b*r` must equal the signature length. */
  def bandHashes(sig: Column, b: Int, r: Int): Column =
    array((0 until b).map { j =>
      xxhash64(lit(j), slice(sig, j * r + 1, r))
    }: _*)

  /** Band count whose LSH S-curve threshold — `t ≈ (1/b)^(1/r)` with
    * `r = numHashes/b` — sits closest to the target Jaccard `threshold`.
    * The standard (b, r) selection: more bands → the curve's knee moves
    * left (higher recall at lower similarity), fewer bands → right. Only
    * divisors of `numHashes` are candidates. */
  def suggestBands(numHashes: Int, threshold: Double): Int = {
    require(numHashes > 0 && threshold > 0 && threshold < 1)
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
    candidates.minBy { b =>
      val r = numHashes / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** n-slot MinHash signature of `text`'s k-byte shingles, from the fused
    * native [[MinHashSignature]] kernel (byte-window shingling, zero
    * per-shingle allocation; `shift > 0` samples shingles by content).
    * Null when `text` is null or shorter than k bytes. The one signature
    * every near-dup operator, the persisted index and the streaming
    * dedup compute, so their sketches agree bit for bit. */
  def signature(text: Column, k: Int, n: Int, shift: Int = 0): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(text), k, n, shift))

  /** The 32-byte SHA-256 of `text`: the content-equality stand-in every
    * exact verification compares (equal digests ⇔ equal text, up to a
    * SHA-256 collision). */
  def contentDigest(text: Column): Column = unhex(sha2(text, 256))

  /** A 128-bit grouping key for a wide value (signature, paragraph): two
    * independently seeded 64-bit hashes, so an exchange carries 16 bytes
    * and an aggregation compares two longs instead of the value. A
    * collision between distinct values is ~n²/2^129 — below the
    * sketches' own collision floor. */
  def surrogate(c: Column): Column =
    struct(xxhash64(c).as("h1"), xxhash64(lit(0x9E3779B97F4A7C15L), c).as("h2"))

  /** Count of equal slots between two signatures, from the fused
    * [[SlotAgreement]] kernel. */
  def slotAgreement(a: Column, b: Column): Column =
    ColumnBridge.column(
      SlotAgreement(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Estimated Jaccard similarity from two signatures: fraction of
    * agreeing slots. The agreement count runs as the fused
    * [[slotAgreement]] kernel — an LSH bucket of m signatures scores
    * m(m-1)/2 pairs, and the composed `aggregate(zip_with(...))` fold was
    * the bucket stage's interpreted hot path (same finding as the IVF dot
    * product). Values are identical ([[estJaccardComposed]] is the spec
    * baseline). */
  def estJaccard(sigA: Column, sigB: Column): Column =
    slotAgreement(sigA, sigB).cast("double") / size(sigA).cast("double")

  /** The composed-Column form of [[estJaccard]] — the bit-exactness
    * baseline for the fused kernel (VectorExpressionsSpec). */
  private[graft] def estJaccardComposed(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v
    ).cast("double") / size(sigA).cast("double")
}
