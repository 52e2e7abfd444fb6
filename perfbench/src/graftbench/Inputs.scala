package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneId}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything graft sees is made here, from
  * `--seed` alone: the same seed gives byte-identical inputs (checked via
  * [[digest]]), and every run records the stats of what it generated. */
object Inputs {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02x").mkString

  /** SHA-256 over a canonical line rendering of one input set. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    hex(md.digest())
  }

  /** Deterministic pseudo-word vocabulary (lowercase letters only). */
  def vocabulary(r: SplittableRandom, n: Int, exclude: Set[String]): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val len = 3 + r.nextInt(7)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (!exclude.contains(w)) out += w
    }
    out.toArray
  }
}

// ---------------------------------------------------------------- etl_sync

/** A source row of the Derby table. `note` and the `TMP_` columns exist
  * for the plan's drop-then-keep regex to remove. */
final case class SrcRow(
    id: Long, acct: Long, qty: Long, amt: java.math.BigDecimal, name: String,
    created: LocalDateTime, flag: String, note: String, tmpNote: String, tmpSeq: Int)

/** A row in the plan's output schema (what the repo table holds). */
final case class OutRow(
    id: Long, account: Long, qty: Int, amt: Double, name: String,
    created: java.sql.Timestamp, active: java.lang.Boolean)

final case class EtlInputs(
    rows: Array[SrcRow],
    comment: String,
    changes: Seq[Array[OutRow]],
    loadRows: Array[OutRow]) {

  val whereSql = "AMT > -900"
  def landed(r: SrcRow): Boolean = r.amt.doubleValue > -900.0
  lazy val landedRows: Int = rows.count(landed)
  lazy val insertsPerBatch: Int = changes.head.count(_.id > rows.length)

  /** Raw value bytes of the landed rows' landed columns: 8 per
    * BIGINT/DECIMAL(18,4)/TIMESTAMP value, UTF-8 length per text value. */
  lazy val landedRawBytes: Long = rows.iterator.filter(landed).map(r =>
    8L * 5 + r.name.getBytes(UTF_8).length + r.flag.getBytes(UTF_8).length).sum

  def csvLine(r: SrcRow): String =
    s"""${r.id},${r.acct},${r.qty},${r.amt.toPlainString},"${r.name}",""" +
      s""""${EtlInputs.Stamp.format(r.created)}","${r.flag}","${r.note}",""" +
      s""""${r.tmpNote}",${r.tmpSeq}"""

  private def outLine(o: OutRow): String =
    s"${o.id},${o.account},${o.qty},${o.amt},${o.name},${o.created.getTime},${o.active}"

  def lines: Iterator[String] =
    Iterator(comment) ++ rows.iterator.map(csvLine) ++
      changes.iterator.zipWithIndex.flatMap { case (b, i) =>
        Iterator(s"batch $i") ++ b.iterator.map(outLine)
      } ++ Iterator("load") ++ loadRows.iterator.map(outLine)

  def stats: Seq[(String, Any)] = Seq(
    "rows" -> rows.length,
    "bytes" -> rows.iterator.map(r => csvLine(r).length + 1L).sum,
    "landed_rows" -> landedRows,
    "landed_raw_bytes" -> landedRawBytes,
    "change_batches" -> changes.length,
    "change_rows_per_batch" -> changes.head.length,
    "inserts_per_batch" -> insertsPerBatch,
    "load_rows" -> loadRows.length)
}

object EtlInputs {
  val Flags: Array[String] =
    Array("t", "true", "y", "yes", "1", "f", "false", "n", "no", "0", "T", "Yes", "N", "?")
  val NY: ZoneId = ZoneId.of("America/New_York")
  val Stamp: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def parseFlag(f: String): java.lang.Boolean = f.trim.toLowerCase match {
    case "t" | "true" | "y" | "yes" | "1" | "1.0" => java.lang.Boolean.TRUE
    case "f" | "false" | "n" | "no" | "0" | "0.0" => java.lang.Boolean.FALSE
    case _ => null
  }

  /** The output row the plan makes of a source row. */
  def planned(r: SrcRow): OutRow = OutRow(r.id, r.acct, r.qty.toInt,
    r.amt.doubleValue, r.name,
    java.sql.Timestamp.from(r.created.atZone(NY).toInstant), parseFlag(r.flag))

  def generate(seed: Long, rows: Int, changeBatches: Int, loadRows: Int): EtlInputs = {
    val r = Inputs.rng(seed, 1)
    val words = Inputs.vocabulary(Inputs.rng(seed, 2), 500, Set.empty)
    val base = LocalDateTime.of(2019, 1, 1, 0, 0, 0)
    def text(maxLen: Int): String = {
      val s = words(r.nextInt(words.length)) + " " + words(r.nextInt(words.length))
      s.take(maxLen)
    }
    val src = Array.tabulate(rows) { i =>
      SrcRow(
        id = i + 1L,
        acct = 1L + r.nextInt(5000),
        qty = r.nextInt(100000).toLong,
        amt = java.math.BigDecimal.valueOf(r.nextLong(-10000000L, 10000000L), 4),
        name = text(24),
        // whole seconds in 2019-2022; 02:00-02:59 is skipped so no local
        // time falls in a New York DST gap
        created = {
          val t = base.plusSeconds(r.nextLong(4L * 365 * 86400))
          if (t.getHour == 2) t.plusHours(1) else t
        },
        flag = Flags(r.nextInt(Flags.length)),
        note = text(24),
        tmpNote = text(12),
        tmpSeq = r.nextInt(1000))
    }
    val stamp = base.plusDays(1200L + r.nextInt(300)).plusSeconds(r.nextInt(86400))
    val comment = "Last modified: " +
      java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss").format(stamp)

    // change batches: ~1% of rows, 80% updates of landed ids, 20% inserts
    // of ids past the source range (distinct across batches)
    val landedIds = src.iterator.filter(_.amt.doubleValue > -900.0).map(_.id).toArray
    val perBatch = math.max(5, rows / 100)
    val inserts = perBatch / 5
    val changes = (0 until changeBatches).map { b =>
      val upd = Array.fill(perBatch - inserts)(landedIds(r.nextInt(landedIds.length))).distinct
      val ins = Array.tabulate(inserts)(i => rows + 1L + b * inserts + i)
      (upd ++ ins).map { id =>
        OutRow(id, 1L + r.nextInt(5000), r.nextInt(100000), r.nextInt(2000000) / 1000.0 - 899.0,
          text(24), new java.sql.Timestamp(1546300800000L + r.nextLong(1L << 37)),
          java.lang.Boolean.valueOf(r.nextBoolean()))
      }
    }
    val load = src.iterator.filter(_.amt.doubleValue > -900.0).take(loadRows).map(planned).toArray
    EtlInputs(src, comment, changes, load)
  }
}

// ------------------------------------------------------------ corpus_dedup

final case class Doc(id: Long, text: String)

/** The corpus plus the ingest batches. `kind` per doc: u = unique,
  * x = member of an exact-duplicate group, e = near-edit of a unique doc,
  * b = base of a near-edit, n = non-English or low-quality noise.
  * `group` per doc: the exact group (x) or the base/edit pair (b, e) it
  * belongs to, -1 for the other kinds. */
final case class CorpusInputs(
    docs: Array[Doc],
    kinds: Array[Char],
    group: Array[Int],
    plantedExactRemovals: Int,
    batches: Seq[Array[Doc]],
    batchKinds: Seq[Array[Char]]) {

  def lines: Iterator[String] =
    docs.iterator.zip(kinds.iterator).map { case (d, k) => s"${d.id}\t$k\t${d.text}" } ++
      batches.iterator.zip(batchKinds.iterator).zipWithIndex.flatMap { case ((b, ks), i) =>
        Iterator(s"batch $i") ++ b.iterator.zip(ks.iterator).map { case (d, k) =>
          s"${d.id}\t$k\t${d.text}"
        }
      }

  private def share(k: Char): Double = kinds.count(_ == k).toDouble / docs.length

  def stats: Seq[(String, Any)] = Seq(
    "docs" -> docs.length,
    "bytes" -> docs.iterator.map(_.text.length.toLong).sum,
    "exact_dup_share" -> share('x'),
    "planted_exact_removals" -> plantedExactRemovals,
    "near_dup_share" -> share('e'),
    "noise_share" -> share('n'),
    "batches" -> batches.length,
    "batch_docs" -> batches.head.length)
}

object CorpusInputs {
  val EnStop: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "it",
    "that", "for", "with", "on", "as", "was", "by", "this", "are", "be", "at", "from")
  val DeWords: Array[String] = Array("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
  val Punct: Array[String] = Array("!!!", "#$%", "@@", "&&&", "1234", "???", "$$", "**", "::;", "~~")

  def shingles(s: String, k: Int = 5): Set[String] =
    if (s.length < k) Set.empty else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def generate(seed: Long, nDocs: Int, nBatches: Int, batchDocs: Int): CorpusInputs = {
    val r = Inputs.rng(seed, 11)
    val excluded = (EnStop ++ DeWords ++
      graft.functions.TextFunctions.LangProfiles.flatMap(_._2)).toSet
    val vocab = Inputs.vocabulary(Inputs.rng(seed, 12), 4000, excluded)
    def word() = vocab(r.nextInt(vocab.length))
    def english(): String = {
      val sb = new StringBuilder
      while (sb.length < 290) {
        if (sb.nonEmpty) sb += ' '
        sb ++= (if (r.nextInt(100) < 35) EnStop(r.nextInt(EnStop.length)) else word())
      }
      sb += '.'
      sb.toString
    }
    def german(): String = {
      val sb = new StringBuilder
      while (sb.length < 290) {
        if (sb.nonEmpty) sb += ' '
        sb ++= (if (r.nextInt(100) < 40) DeWords(r.nextInt(DeWords.length)) else word())
      }
      sb.toString
    }
    def junk(): String = {
      val sb = new StringBuilder
      while (sb.length < 200) {
        if (sb.nonEmpty) sb += ' '
        sb ++= Punct(r.nextInt(Punct.length))
      }
      sb.toString
    }
    // one content word swapped; re-rolled until char-5-shingle Jaccard >= 0.9
    def nearEdit(base: String): String = {
      var out = base
      while (out == base || jaccard(base, out) < 0.9) {
        val toks = base.split(' ')
        val pos = r.nextInt(toks.length)
        toks(pos) = word()
        out = toks.mkString(" ")
      }
      out
    }

    val nExactDocs = (nDocs * 0.20).toInt
    val nNear = (nDocs * 0.10).toInt
    val nNoise = (nDocs * 0.05).toInt
    // zipf-sized exact groups: P(size = k) ∝ k^-2 on [2, 200]
    val sizes = (2 to 200).toArray
    val cdf = sizes.map(k => 1.0 / (k.toDouble * k)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    val groups = ArrayBuffer.empty[Int]
    var left = nExactDocs
    while (left >= 2) {
      val u = r.nextDouble() * total
      val g = math.min(left, sizes(math.max(0, java.util.Arrays.binarySearch(cdf, u) match {
        case i if i >= 0 => i
        case i => -i - 1
      })))
      if (g >= 2) groups += g
      left -= g
    }
    val nUnique = nDocs - groups.sum - nNear - nNoise
    val texts = ArrayBuffer.empty[(String, Char, Int)]
    val uniques = Array.fill(nUnique)(english())
    uniques.foreach(t => texts += ((t, 'u', -1)))
    groups.zipWithIndex.foreach { case (g, gi) =>
      val t = english(); (0 until g).foreach(_ => texts += ((t, 'x', gi)))
    }
    // near-edit bases: the first nNear unique docs; batches re-send and
    // edit docs from the rest, which stay survivors of every curate pass
    (0 until nNear).foreach { i =>
      texts(i) = (uniques(i), 'b', groups.length + i)
      texts += ((nearEdit(uniques(i)), 'e', groups.length + i))
    }
    (0 until nNoise).foreach(i => texts += ((if (i % 2 == 0) german() else junk(), 'n', -1)))
    // shuffle, then ids 1..n in shuffled order
    val arr = texts.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    val docs = arr.zipWithIndex.map { case ((t, _, _), i) => Doc(i + 1L, t) }
    val kinds = arr.map(_._2)
    val stable = uniques.drop(nNear)

    val batches = (0 until nBatches).map { b =>
      val idBase = 10000000L + b * 100000L
      val fresh = batchDocs / 2
      val resend = batchDocs / 4
      val edits = batchDocs - fresh - resend
      val ks = Array.fill(fresh)('f') ++ Array.fill(resend)('r') ++ Array.fill(edits)('e')
      val ts = Array.fill(fresh)(english()) ++
        Array.fill(resend)(stable(r.nextInt(stable.length))) ++
        Array.fill(edits)(nearEdit(stable(r.nextInt(stable.length))))
      (ts.zipWithIndex.map { case (t, i) => Doc(idBase + i, t) }, ks)
    }
    CorpusInputs(docs, kinds, arr.map(_._3), groups.map(_ - 1).sum, batches.map(_._1),
      batches.map(_._2))
  }
}

// ----------------------------------------------------------- vector_search

final case class VectorInputs(
    dim: Int,
    clusters: Int,
    corpus: Array[Array[Float]],
    outliers: Int,
    queries: Array[Array[Float]],
    appendPool: Seq[Array[Array[Float]]]) {

  def queryId(i: Int): Long = 50000000L + i
  def appendId(b: Int, i: Int): Long = 60000000L + b * 1000000L + i

  def lines: Iterator[String] =
    corpus.iterator.map(_.mkString(",")) ++ Iterator("queries") ++
      queries.iterator.map(_.mkString(",")) ++
      appendPool.iterator.flatMap(b => Iterator("append") ++ b.iterator.map(_.mkString(",")))

  def stats: Seq[(String, Any)] = Seq(
    "vectors" -> corpus.length,
    "dim" -> dim,
    "clusters" -> clusters,
    "outliers" -> outliers,
    "bytes" -> corpus.length.toLong * dim * 4,
    "queries" -> queries.length,
    "append_batches" -> appendPool.length,
    "append_vectors_per_batch" -> appendPool.head.length)
}

object VectorInputs {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / math.sqrt(na * nb)
  }

  def generate(seed: Long, n: Int, dim: Int, clusters: Int, nQueries: Int,
      appendBatches: Int, appendSize: Int): VectorInputs = {
    val r = Inputs.rng(seed, 21)
    // every center shares +0.6 on dimension 0, so vectors far out on -dim0
    // score cosine < 0 against every query
    val centers = Array.fill(clusters) {
      val rest = Array.fill(dim - 1)(r.nextGaussian())
      val nrm = math.sqrt(rest.map(x => x * x).sum)
      (0.6 +: rest.map(_ / nrm)).map(_.toFloat)
    }
    def near(c: Array[Float]): Array[Float] = c.map(x => (x + 0.08 * r.nextGaussian()).toFloat)
    val nOut = n / 20
    val corpus = Array.tabulate(n) { i =>
      if (i < nOut) Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
      else near(centers(i % clusters)) // equal-sized clusters
    }
    val queries = Array.tabulate(nQueries)(q => near(centers(q % clusters)))
    val pool = (0 until appendBatches).map { _ =>
      Array.fill(appendSize) {
        var v: Array[Float] = null
        while (v == null || queries.exists(q => cosine(q, v) >= 0)) {
          v = Array.tabulate(dim)(d =>
            if (d == 0) (-3.0 + 0.1 * r.nextGaussian()).toFloat
            else (r.nextDouble() * 0.6 - 0.3).toFloat)
        }
        v
      }
    }
    VectorInputs(dim, clusters, corpus, nOut, queries, pool)
  }
}

/** Input sizes of record, scaled by `--scale` (the tests run at small
  * scale); the workloads and `--dump-inputs` both generate through here. */
object Sizes {
  def n(base: Int, min: Int, scale: Double): Int = math.max(min, (base * scale).round.toInt)

  def etl(seed: Long, scale: Double): EtlInputs =
    EtlInputs.generate(seed, n(40000, 200, scale), changeBatches = 4, loadRows = n(8000, 20, scale))

  def corpus(seed: Long, scale: Double): CorpusInputs =
    CorpusInputs.generate(seed, n(6000, 400, scale), nBatches = 3, batchDocs = n(500, 8, scale))

  def vectors(seed: Long, scale: Double): VectorInputs =
    VectorInputs.generate(seed, n(20000, 2000, scale), dim = 64, clusters = 64,
      nQueries = 64, appendBatches = 4, appendSize = n(500, 20, scale))
}
