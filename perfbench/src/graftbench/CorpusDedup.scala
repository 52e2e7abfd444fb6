package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, MinHashIndex}
import graft.sources.PqRepo
import graft.streaming.StreamToRepo

/** LLM-corpus curation: a quality/language gate, exact and near-duplicate
  * removal, the survivors' repo write and MinHash index build, then daily
  * batches landed through the streaming ledger against that index. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx._

  private val Schema = "corpus"
  private val Index = "mh"
  private val NumHashes = 48
  private val Bands = 12
  private val Threshold = 0.8
  private var in: CorpusInputs = _
  private var repo: PqRepo = _
  private var batchFrames: Seq[DataFrame] = Nil
  private var survivorDigest: Option[String] = None
  private var ccIterations = 0.0
  private var removedFraction = 0.0
  private var quality = 0.0
  private var planBytes = 0.0
  private val probe = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType)))

  private def docRows(d: Array[Doc]) = d.map(x => Row(x.id, x.text)).toSeq

  def setup(rep: Int): Unit = {
    in = Sizes.corpus(seed, scale)
    repo = PqRepo(spark, new File(dir("corpus"), s"repo_$rep").getAbsolutePath)
    repo.write(frame(docRows(in.docs), docSchema), Schema, "raw")
    batchFrames = in.batches.map(b => frame(docRows(b), docSchema))
    survivorDigest = None
  }

  private def gated(raw: DataFrame): DataFrame =
    raw.filter(TextFunctions.langId(col("text")) === lit("en") &&
      TextFunctions.qualityScore(col("text")) >= lit(0.5))

  private val geometry = MinHashIndex.Geometry(
    shingleK = 5, numHashes = NumHashes, bands = Bands, buckets = 8)

  def pass(p: Int): Unit = {
    val raw = repo.table(Schema, "raw")
    val (stats, exactDocs) = rec.op("curate") {
      span("operators.dedup.curate") {
        val exact = Dedup.exact(gated(raw), Seq("text"), Seq(col("id")))
        val (survivors, stats) = Dedup.dropNearDuplicatesWithStats(exact, "id", "text",
          shingleK = 5, numHashes = NumHashes, bands = Bands, threshold = Threshold)
        span("sources.pqrepo.write") { repo.write(survivors, Schema, "clean") }
        span("operators.dedup.index_write") {
          MinHashIndex.write(repo, repo.table(Schema, "clean"), "id", "text", Schema, Index, geometry)
        }
        (stats, exact)
      }
    }
    ccIterations = stats.iterations
    planBytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
    // the gate drops exactly the noise docs and exact dedup exactly the
    // planted copies, so the exact-dedup output has a known size
    val nExact = exactDocs.count()
    val expectExact = in.docs.length - in.kinds.count(_ == 'n') - in.plantedExactRemovals
    rec.expect(nExact == expectExact, s"gate + exact dedup kept $nExact docs, expected $expectExact")
    rec.expect(stats.converged, "components did not converge")
    val ids = repo.table(Schema, "clean").select("id").collect().map(_.getLong(0)).sorted
    removedFraction = 1.0 - ids.length.toDouble / in.docs.length
    // planted duplicates found, from the planted kinds: removed copies
    // beyond the first of each exact group and of each base/edit pair,
    // over all planted ones. Removing more than that finds nothing more.
    val kept = ids.toSet
    val bySet = in.docs.indices.filter(in.group(_) >= 0).groupBy(in.group(_)).values
    val survivorsPerSet = bySet.map(is => is.length -> is.count(i => kept.contains(in.docs(i).id)))
    val planted = survivorsPerSet.map(_._1 - 1).sum
    quality = survivorsPerSet.map { case (n, left) => math.min(n - left, n - 1) }.sum.toDouble / planted
    rec.expect(survivorsPerSet.forall(_._2 >= 1), "curate removed every copy of a planted duplicate")
    val uniques = in.docs.indices.filter(in.kinds(_) == 'u').map(in.docs(_).id)
    rec.expect(uniques.forall(kept.contains),
      s"curate dropped ${uniques.count(!kept.contains(_))} unique docs")
    val digest = Inputs.digest(ids.iterator.map(_.toString))
    rec.expect(survivorDigest.forall(_ == digest), "survivors differ from the first pass")
    survivorDigest = Some(digest)

    var landed: DataFrame = null
    var landings = 0
    val sink = StreamToRepo.ledgeredSink(repo, Schema, "ingest") { batch =>
      landings += 1
      span("operators.dedup.ingest") {
        val keep = span("operators.dedup.drop_known") {
          MinHashIndex.dropNearKnown(repo, batch, "id", "text", Schema, Index, Threshold)
            .localCheckpoint(eager = true)
        }
        rec.sample("index_append") {
          span("operators.dedup.append") {
            MinHashIndex.append(repo, keep, "id", "text", Schema, Index)
          }
        }
        landed = keep
      }
    }
    // the warm-up pass runs each operation once
    val batches = batchFrames.zipWithIndex.take(if (p == 0) 1 else batchFrames.length)
    batches.foreach { case (batch, b) =>
      val batchId = p * 100L + b
      rec.op("ingest") { span("streaming.ledger") { sink(batch, batchId) } }
      val kept = landed.select("id").collect().map(_.getLong(0)).toSet
      val kinds = in.batches(b).map(_.id).zip(in.batchKinds(b))
      def keptOf(k: Char) = kinds.count { case (id, kk) => kk == k && kept.contains(id) }
      def total(k: Char) = kinds.count(_._2 == k)
      rec.expect(keptOf('f') == total('f'), s"ingest $batchId dropped fresh docs")
      rec.expect(keptOf('r') == 0, s"ingest $batchId kept exact re-sends")
      rec.expect(keptOf('e') <= total('e') / 10, s"ingest $batchId kept ${keptOf('e')} near-edits")
    }
    // replaying a landed batch id lands nothing
    val before = landings
    val (lastBatch, lastB) = batches.last
    rec.op("replay") { sink(lastBatch, p * 100L + lastB) }
    rec.expect(landings == before, "ledger replay landed the batch again")
  }

  def layerProbes(): Unit = {
    import Probe._
    val docs = repo.table(Schema, "raw").cache()
    probe("functions.minhash_ns_per_doc") = kernelNs(docs,
      _.select(expr(s"graft_minhash_signature(text, 5, $NumHashes)")))
    probe("functions.text_gate_ns_per_doc") = kernelNs(docs,
      d => d.select(TextFunctions.langId(col("text")), TextFunctions.qualityScore(col("text"))))
    docs.unpersist(blocking = true)

    val g = gated(repo.table(Schema, "raw")).localCheckpoint(eager = true)
    var exact: DataFrame = null
    probe("operators.dedup.exact_s") = timed {
      exact = Dedup.exact(g, Seq("text"), Seq(col("id"))).localCheckpoint(eager = true)
    }
    probe("operators.dedup.near_s") = timed {
      noop(Dedup.dropNearDuplicatesWithStats(exact, "id", "text", shingleK = 5,
        numHashes = NumHashes, bands = Bands, threshold = Threshold)._1)
    }
    val pairs = Dedup.minhashPairs(g, "id", "text", shingleK = 5, numHashes = NumHashes,
      bands = Bands, threshold = Threshold).localCheckpoint(eager = true)
    val cand = pairs.count().toDouble
    val verified = Dedup.verifyPairsExact(pairs, g, "id", "text").count().toDouble
    probe("operators.dedup.candidate_pairs") = cand
    probe("operators.dedup.verified_pairs") = verified
    probe("operators.dedup.pair_yield") = if (cand == 0) 0.0 else verified / cand
  }

  def endToEnd(): Seq[(String, Double)] = Seq(
    "bulk_items_per_s" -> in.docs.length / rec.p50("curate"),
    "incr_p50_ms" -> 1000 * rec.p50("ingest"),
    "write_p50_ms" -> 1000 * rec.p50("index_append"),
    "quality" -> quality)

  def report(): Seq[Named] = Seq(
    Named("curate_docs_per_s", in.docs.length / rec.p50("curate"), "docs/s", rec.n("curate")),
    Named("ingest_batch_p50_s", rec.p50("ingest"), "s", rec.n("ingest")),
    Named("index_append_p50_s", rec.p50("index_append"), "s", rec.n("index_append")))

  def perLayer(): Seq[(String, Double)] = {
    val ledger = trace.spans.filter(_.name == "streaming.ledger")
    val ingestById = trace.spans.filter(_.name == "operators.dedup.ingest").map(s => s.parent -> s).toMap
    val ledgerSelf = ledger.flatMap(l => ingestById.get(l.id).map(i => (l.durNs - i.durNs) / 1e6))
    probe.toSeq ++ Seq(
      "operators.dedup.cc_iterations" -> ccIterations,
      "operators.dedup.removed_fraction" -> removedFraction,
      "operators.dedup.index_write_s" -> spanMedianS("operators.dedup.index_write"),
      "operators.dedup.drop_known_s" -> spanMedianS("operators.dedup.drop_known"),
      "operators.dedup.append_s" -> spanMedianS("operators.dedup.append"),
      "sources.pqrepo.write_s" -> spanMedianS("sources.pqrepo.write"),
      "streaming.ledger_ms" -> SpanMath.median(ledgerSelf))
  }

  def inputStats: Seq[(String, Any)] = in.stats :+ ("curate_plan_bytes_est" -> planBytes)
}
