package graft

import graft.plans.TablePlan
import org.apache.spark.sql.functions._

/** Physical-plan audits: the plans we'd want at 100 TB, asserted at test
  * scale — broadcasts where intended, pruned scans, pushed filters. */
class PlanAuditSpec extends SparkSpec {

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q5_star_join broadcasts the bounded dims, hash-joins the fact " +
    "chain, never sort-merges") {
    val p = physical("q5_star_join")
    // the two PINNED broadcasts: region->nation, asia-nations->customer
    // (provably bounded dimension frames). The customer->orders and
    // orders->fact joins are hinted SHUFFLE_HASH since r20: their sides
    // grow with scale factor (a pinned broadcast would OOM a full-scale
    // driver) and the planner's sort-merge default sorted the orders
    // stream and the pre-aggregated fact at 100x (measured: 4.1 -> 3.3 s
    // at 100x, 2.0 -> 1.3 s at 20x).
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected >=2 broadcast dim joins:\n$p")
    assert("ShuffledHashJoin".r.findAllIn(p).length == 2,
      s"expected exactly 2 shuffled-hash fact joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join may sort the fact:\n$p")
  }

  test("q3_join_agg broadcasts the filtered customer dim") {
    val p = physical("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter not pushed:\n$p")
  }

  test("q1_agg does partial (map-side) aggregation before the shuffle") {
    val p = physical("q1_agg")
    // two HashAggregates around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    // column pruning: the 5 needed columns reach the scan, the rest don't
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double"),
      s"lineitem scan not pruned:\n$p")
    assert(!p.contains("l_orderkey"), s"unneeded column read:\n$p")
  }

  test("plan where-clauses reach the parquet scan") {
    val p = TablePlan(keep = Seq("^l_(orderkey|quantity)$"),
      where = Some("l_quantity > 30"))(
      spark.read.parquet(s"$sfDir/lineitem.parquet"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
  }

  test("q_dpp: partitioned fact scan is dynamically pruned by the dim filter") {
    val p = physical("q_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP subquery in the fact scan's PartitionFilters:\n$p")
  }

  test("q_bucketed_join: co-located merge join without a join-side shuffle") {
    val p = physical("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // the only Exchange allowed is the final aggregation's
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 Exchange (agg only), got $exchanges:\n$p")
  }

  test("embed_cosine_topk broadcasts the query side (no shuffle of corpus)") {
    val p = physical("embed_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }
}

class PipelinePlanAuditSpec extends SparkSpec {

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("tfidf_topk broadcasts the vocabulary-sized df side") {
    val p = physical("tfidf_topk")
    assert(p.contains("BroadcastHashJoin"), s"df side should broadcast:\n$p")
  }

  test("contamination broadcasts the benchmark n-gram set") {
    val p = physical("contamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark grams should broadcast:\n$p")
    // the corpus side must not shuffle for the join itself
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_exact shuffles on the key hash, not the raw text") {
    val p = physical("dedup_exact")
    // the hash is pre-projected (xxhash64(text) AS _wN) and the window
    // Exchange partitions on that 8-byte alias, never on text itself
    assert(p.contains("xxhash64(text"), s"hash projection missing:\n$p")
    val exchange = p.linesIterator
      .find(_.contains("Exchange hashpartitioning"))
      .getOrElse(fail(s"no exchange in plan:\n$p"))
    assert(!exchange.contains("text"),
      s"window exchange must partition on the hash alias, not text:\n$exchange")
  }

  test("dedup_drop's clique fast path plans one aggregation: no band " +
    "stage, no label-propagation checkpoints, hash-restricted text") {
    // threshold 1.0 + verifyExact: survivors come from exactGroups' hash
    // classes + one anti join. The plan must carry NO posexplode (banding
    // skipped) and NO checkpointed RDD scan (the propagation loop never
    // ran — its localCheckpoint materializations would surface as
    // "Scan ExistingRDD" leaves).
    val p = physical("dedup_drop")
    assert(!p.contains("posexplode"),
      s"fast path must not plan the band stage:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"fast path must not read checkpointed propagation state:\n$p")
  }

  test("dedup_minhash evaluates the signature kernel outside the query " +
    "plan (materialized once) and pays no band stage at threshold 1.0") {
    // The signature frame is eagerly materialized inside minhashPairs —
    // the kernel runs exactly once, in the materialization job, and
    // every consumer (the heavy-group probe action, the signature
    // collapse, the pair branches) reads the materialized fixed-width
    // blocks. So the EXECUTED plan must carry ZERO live signature
    // computations (it scans the materialized RDD instead), and at
    // threshold 1.0 — where cross-signature candidates are provably
    // empty — NO band posexplode either.
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dup = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val u = d.unionByName(dup)
    val cand = graft.operators.Dedup.minhashPairs(u, "doc_id", "text",
      shingleK = 5, numHashes = 48, bands = 12, threshold = 1.0)
    val df = graft.operators.Dedup.verifyPairsExact(cand, u, "doc_id", "text")
    df.queryExecution.executedPlan.executeCollect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    val occurrences = "graft_minhash_signature".r.findAllIn(finalPlan).length
    assert(occurrences == 0,
      s"signature must be materialized, not recomputed in the plan; found $occurrences:\n$finalPlan")
    assert(finalPlan.contains("ExistingRDD"),
      s"plan should scan the materialized signature blocks:\n$finalPlan")
    assert(!finalPlan.contains("posexplode"),
      s"threshold-1.0 plan must not carry the band stage:\n$finalPlan")

    // the registered query at test scale takes the same plan
    val registered = SparkEntry.queries("dedup_minhash")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!registered.contains("graft_minhash_signature"), registered)
    assert(registered.contains("ExistingRDD"), registered)
    assert(!registered.contains("posexplode"),
      s"threshold-1.0 plan must not carry the band stage:\n$registered")
  }

  test("scrub_pii stays one codegen projection over the scan (no shuffle)") {
    val p = physical("scrub_pii")
    assert(!p.contains("Exchange"), s"a pure projection must not shuffle:\n$p")
  }

  // ---- text-free shuffle audits (the 100 TB property: document text must
  // never ride a corpus-wide exchange) -------------------------------------

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
  import org.apache.spark.sql.types.StringType

  private def shuffleExchanges(name: String): Seq[ShuffleExchangeExec] = {
    val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    val root: SparkPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case e: ShuffleExchangeExec => e }
  }

  test("dedup_incremental: corpus/batch-wide shuffles are hash-only; text " +
    "shuffles only above the candidate-hash broadcast restriction") {
    val exs = shuffleExchanges("dedup_incremental")
    val (textful, textless) = exs.partition(_.output.exists(_.dataType == StringType))
    assert(textless.nonEmpty, "expected the candidate-hash distinct shuffle")
    // the only text-bearing exchange is the restricted candidate set's
    // distinct (collapsing duplicate corpus occurrences before broadcast);
    // it must sit above the batch-hash broadcast semi join, so it carries
    // hash-colliding rows only — never the unrestricted corpus
    textful.foreach { e =>
      assert(e.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"text-bearing exchange must sit above the candidate broadcast " +
          s"restriction:\n$e")
    }
  }

  test("dedup_groups: corpus-wide shuffle is hash-only; text shuffles only " +
    "above the colliding-id broadcast restriction") {
    val exs = shuffleExchanges("dedup_groups")
    val (textful, textless) = exs.partition(_.output.exists(_.dataType == StringType))
    assert(textless.nonEmpty,
      "expected the corpus-wide hash-grouping exchange (no text columns)")
    textful.foreach { e =>
      assert(e.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"text-bearing exchange must sit above the colliding-id broadcast " +
          s"semi join (so it carries colliding rows only):\n$e")
    }
  }
}

/** Round-6 registered queries: the plan shapes that make them 100 TB-safe,
  * pinned at the query level so a refactor can't silently regress them. */
class Round6PlanAuditSpec extends SparkSpec {

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("fuzzy_join: hash equi-join on variant hashes, no cross product") {
    val p = physical("fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("Join"), p)
  }

  test("q_interval_join: bucket equi-join, no nested loop over intervals") {
    val p = physical("q_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("dedup_substring: exchanges carry span hashes, never document text") {
    val p = physical("dedup_substring")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), s"text in exchange:\n$p")
  }

  test("q_scd2: one data shuffle on the entity key") {
    val p = physical("q_scd2")
    val n = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("SinglePartition"))
    assert(n == 1, s"expected one entity-key shuffle, got $n:\n$p")
  }

  test("source_minhash: signature aggregation partial-aggregates map-side") {
    val p = physical("source_minhash")
    assert(p.contains("partial_min"), s"no map-side partial mins:\n$p")
  }

  test("source_minhash: one sketch computation, banded pairing, no " +
    "nested-loop join (the round-6 weak mark)") {
    // The r6 shape self-joined the sketch frame on key_a < key_b: both
    // sides re-ran tokenize → fingerprint → 32-min aggregation from the
    // scan up, paired through a BroadcastNestedLoopJoin — O(G²) at
    // crawl-domain group cardinality. The banded shape hangs both diamond
    // branches off the same distinct-signature exchange (AQE reuses it)
    // and pairs inside band buckets, so the audit runs the query and
    // asserts on the post-execution final plan.
    val df = SparkEntry.queries("source_minhash")(spark, sfDir)
    df.queryExecution.executedPlan.executeCollect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(!finalPlan.contains("NestedLoop") && !finalPlan.contains("CartesianProduct"),
      s"group pairing must not be a nested-loop join:\n$finalPlan")
    // the r6 self-join ran the whole pipeline once per side: 2 live scans,
    // 2 signature aggregations; the banded diamond must have exactly 1 of
    // each (fingerprint-FOLD occurrences don't discriminate — mix32
    // textually inlines its argument 8×, deduped by codegen subexpression
    // elimination)
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(scans == 1, s"expected one documents scan, found $scans:\n$finalPlan")
    val sigAggs = finalPlan.linesIterator
      .count(l => l.contains("partial_min") && l.contains("HashAggregate"))
    assert(sigAggs == 1,
      s"expected one partial signature aggregation, found $sigAggs:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange"),
      s"expected the signature-collapse shuffle reused across the " +
        s"equal/banded diamond:\n$finalPlan")
  }

  test("pipeline_curate (v2, with near-dedup): no quadratic join anywhere " +
    "in the composed flagship plan") {
    // the flagship is a composition of five audited stages; this pins the
    // COMPOSITION — an accidental cartesian between stages (e.g. a lost
    // join key in a refactor) would pass row-level correctness at sf0.01
    // and detonate at corpus scale
    val df = SparkEntry.queries("pipeline_curate")(spark, sfDir)
    df.queryExecution.executedPlan.executeCollect()
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"quadratic join in the flagship composition:\n$p")
  }

  test("q_zorder: single codegen projection over the scan, no shuffle") {
    val p = physical("q_zorder")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    // codegen stages print as "*(n)" prefixes in the compact tree
    assert(p.contains("*("), s"no whole-stage-codegen stage:\n$p")
  }

  test("q_transitions: window pass then rollup, event log shuffled once") {
    val p = physical("q_transitions")
    val n = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    // one shuffle into the window (user key) + one for the global rollup
    assert(n <= 2, s"expected <=2 exchanges, got $n:\n$p")
  }
}
