package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

class ScrubSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii scrubs urls, emails and phone numbers, in that order") {
    val df = Seq(
      "mail me at a.b+c@test.org today",
      "see https://x.y/z?a=1&u=n@h.io for details",
      "call 555-123-4567 or 555 123 4567",
      "clean text stays clean"
    ).toDF("t").select(TextFunctions.redactPii(col("t")).as("r"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    // the email-shaped tail inside the URL is already swallowed by <URL>
    assert(out(1) == "see <URL> for details")
    assert(out(2) == "call <PHONE> or <PHONE>")
    assert(out(3) == "clean text stays clean")
  }
}

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("duplicateNgramFraction: 0 for unique text, high for loops, 0 for short") {
    val df = Seq(
      ("unique", "one two three four five six"),
      ("loop", "spam spam spam spam spam spam spam spam"),
      ("short", "hi")
    ).toDF("id", "t").select(col("id"),
      TextFunctions.duplicateNgramFraction(col("t"), 2).as("d2"))
    val out = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("unique") == 0.0)
    // 7 bigrams, all "spam spam" -> 1 - 1/7
    assert(math.abs(out("loop") - (1.0 - 1.0 / 7.0)) < 1e-12)
    assert(out("short") == 0.0)
  }
}

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  test("ngramOverlap finds planted benchmark leaks; hashed ≡ string keys") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen liquor jugs now then")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // contains an exact 10-token window from bench doc 1
      (100L, "intro words the quick brown fox jumps over the lazy dog tonight outro"),
      // no 5-gram overlap
      (101L, "completely different content with no shared phrases at all"),
      // shares a 5-gram with bench doc 2
      (102L, "he did pack my box with five dozen things")
    ).toDF("doc_id", "text")

    val hashed = Contamination.ngramOverlap(corpus, bench, "doc_id", "text",
      n = 5, hashed = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strings = Contamination.ngramOverlap(corpus, bench, "doc_id", "text",
      n = 5, hashed = false).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(hashed == strings)
    // doc 100 embeds a 10-token window -> six distinct shared 5-grams
    assert(hashed(100L) == 6L)
    // "pack my box with five" + "my box with five dozen"
    assert(hashed(102L) == 2L)
    assert(!hashed.contains(101L))
  }

  test("benchmark n-gram set broadcasts (no shuffle on the corpus side)") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = Contamination.ngramOverlap(
      d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("shuffle-join fallback: same answers as broadcast, no broadcast join") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val (corpus, bench) = (d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val broadcastMode = canon(Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5, hashed = true))
    val shuffleHashed = Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5, hashed = true,
      broadcastGrams = false)
    val shuffleStrings = Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5, hashed = false,
      broadcastGrams = false)

    // hash ≡ string in join mode, and join mode ≡ broadcast mode
    assert(canon(shuffleHashed) == broadcastMode)
    assert(canon(shuffleStrings) == broadcastMode)
    // the join is genuinely shuffled — the multi-GB gram set of a full
    // decontamination run must not replicate to every executor
    val plan = shuffleHashed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("bloomRestrict: identical output to every other mode, and the " +
    "might_contain restriction sits BELOW the corpus-side exchange") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val (corpus, bench) = (d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val reference = canon(Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5))
    val bloomed = Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5, hashed = true,
      broadcastGrams = false, bloomRestrict = true)
    // exact join after the Bloom: false positives cannot reach the output
    assert(canon(bloomed) == reference)

    // the restriction must cut the exchange, not run after it: in the
    // UNEXECUTED adaptive plan (exchanges inserted, subtrees still intact
    // — post-execution AQE stage segmentation would hide them) every
    // corpus-side shuffle must have the might_contain filter BELOW it
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // a fresh frame: the collect above already segmented `bloomed`'s plan
    // into query stages, which hides exchange subtrees
    val fresh = Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5, hashed = true,
      broadcastGrams = false, bloomRestrict = true)
    val root = fresh.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // pre-execution: initial
      case p => p
    }
    val corpusShuffles = root.collect {
      case e: ShuffleExchangeExec
        if e.output.exists(_.name == "doc_id") => e
    }
    assert(corpusShuffles.nonEmpty, root.toString)
    corpusShuffles.foreach { e =>
      val hasBloomBelow = e.child.collectFirst {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("might_contain") => f
      }.nonEmpty
      assert(hasBloomBelow,
        s"bloom restriction not below the corpus exchange:\n$e")
    }

    val err = intercept[IllegalArgumentException] {
      Contamination.ngramOverlap(corpus, bench, "doc_id", "text",
        hashed = false, bloomRestrict = true)
    }
    assert(err.getMessage.contains("hashed"))
  }

  test("bloomRestrict under clamped session Bloom caps: output unchanged " +
    "(the clamp degrades fpp, never correctness)") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val (corpus, bench) = (d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reference = canon(Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 5))
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val saved = (spark.conf.getOption(itemsKey), spark.conf.getOption(bitsKey))
    try {
      // far below any real gram count: forces the silent clamp (and the
      // operator's warning) while the exact join keeps the output identical
      spark.conf.set(itemsKey, "8")
      spark.conf.set(bitsKey, "128")
      val clamped = canon(Contamination.ngramOverlap(
        corpus, bench, "doc_id", "text", n = 5, hashed = true,
        broadcastGrams = false, bloomRestrict = true))
      assert(clamped == reference)
    } finally {
      def restore(k: String, v: Option[String]) =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore(itemsKey, saved._1); restore(bitsKey, saved._2)
    }
  }
}

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  test("topTerms ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "alpha common common common"),
      (2L, "beta common common"),
      (3L, "gamma common")
    ).toDF("doc_id", "text")
    val out = TfIdf.topTerms(docs, "doc_id", "text", k = 1).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("term")).toMap
    // "common" appears in every doc (df=3); each rare term (df=1) wins
    assert(out == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
  }

  test("tokenDrift: exact cross-multiplied share differences, planted " +
    "burst tops the list, one-sided tokens survive the full-outer merge") {
    // ref: 6 tokens (a×3, b×2, c×1); cur: 8 tokens (a×2, b×2, burst×3, d×1)
    val ref = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val cur = Seq((3L, "a b burst burst"), (4L, "a b burst d")).toDF("doc_id", "text")
    val out = TfIdf.tokenDrift(ref, cur, "doc_id", "text", topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toBigInteger.longValueExact()))
    // drift = |n_ref·8 − n_cur·6|
    val expect = Map(
      "a" -> ((3L, 2L, math.abs(3 * 8 - 2 * 6).toLong)),  // 12
      "b" -> ((2L, 2L, math.abs(2 * 8 - 2 * 6).toLong)),  // 4
      "c" -> ((1L, 0L, 8L)),                              // ref-only
      "burst" -> ((0L, 3L, 18L)),                         // planted burst
      "d" -> ((0L, 1L, 6L)))
    assert(out.map(x => x._1 -> ((x._2, x._3, x._4))).toMap == expect,
      out.mkString(", "))
    // ordering: drift desc, term asc
    assert(out.map(_._1).toSeq == Seq("burst", "a", "c", "d", "b"))
    // the planted burst token ranks first
    assert(out.head._1 == "burst")
  }

  test("rank is deterministic: score desc then term asc, k bound respected") {
    val docs = Seq((1L, "zz aa zz aa bb")).toDF("doc_id", "text")
    val out = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .orderBy("rank").collect()
    assert(out.length == 2)
    // aa and zz tie on tf=2, df=1 -> term asc breaks the tie
    assert(out(0).getAs[String]("term") == "aa" && out(0).getAs[Long]("rank") == 1L)
    assert(out(1).getAs[String]("term") == "zz")
  }

  test("vocabulary shuffle-join fallback matches broadcast mode exactly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(100)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank"),
        r.getAs[String]("term"), r.getAs[Long]("score"))).toSet

    val viaBroadcast = TfIdf.topTerms(docs, "doc_id", "text", k = 3)
    val viaShuffle = TfIdf.topTerms(docs, "doc_id", "text", k = 3,
      broadcastDf = false)
    assert(canon(viaShuffle) == canon(viaBroadcast))
    // a web-scale vocabulary must not replicate to every executor
    val plan = viaShuffle.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
  }
}

class ParagraphDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dropDuplicateParagraphs keeps first occurrences globally, dedups " +
    "within docs, drops empties, and empties fully-boilerplate docs") {
    val docs = Seq(
      (1L, "alpha\nshared\nalpha"),  // within-doc dup: second alpha goes
      (2L, "shared\nbeta"),          // shared already seen in doc 1
      (3L, "shared\nalpha"),         // fully boilerplate -> ""
      (4L, "gamma\n\n\ngamma")       // empties dropped, one gamma kept
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "alpha\nshared",
      2L -> "beta",
      3L -> "",
      4L -> "gamma"), out.toString)
  }

  test("paragraph ranking shuffles are text-free (keep-lists broadcast " +
    "regime: text never crosses the wire)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.concat_ws("\n",
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.col("text")).as("text"))
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
    out.write.format("noop").mode("overwrite").save() // settle AQE
    val root = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exs = root.collect { case e: ShuffleExchangeExec => e }
    assert(exs.nonEmpty, "expected the winner/keep-list exchanges")
    val textful = exs.filter(_.output.exists(_.dataType == StringType))
    assert(textful.isEmpty,
      s"paragraph text must not ride a shuffle in the broadcast regime:\n$textful")
    // and the rebuild really deduplicated: each doc's duplicated self-text
    // collapses to at most one surviving copy corpus-wide
    assert(out.count() == docs.count())
  }

  test("integral-id winner aggregate plans as HashAggregate, never " +
    "SortAggregate (r13 verdict: min(struct) sorted every paragraph twice)") {
    val docs = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"packed-BIGINT winner must hash-aggregate:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("string ids take the generic struct-winner path and still dedup") {
    val docs = Seq(
      ("a", "x\nshared"), ("b", "shared\ny")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "x\nshared", "b" -> "y"), out.toString)
  }

  test("null ids and out-of-bound ids fail loudly instead of silently " +
    "deleting a winning paragraph corpus-wide") {
    val nullLong = Seq((Some(1L), "p\nq"), (None: Option[Long], "p"))
      .toDF("doc_id", "text")
    intercept[Exception] {
      Dedup.dropDuplicateParagraphs(nullLong, "doc_id", "text").collect()
    }
    val nullStr = Seq((Some("a"), "p"), (None: Option[String], "p"))
      .toDF("doc_id", "text")
    intercept[Exception] {
      Dedup.dropDuplicateParagraphs(nullStr, "doc_id", "text").collect()
    }
    val hugeId = Seq((1L << 50, "p\nq")).toDF("doc_id", "text")
    intercept[Exception] {
      Dedup.dropDuplicateParagraphs(hugeId, "doc_id", "text").collect()
    }
  }

  test("dropSharedSpans removes non-winner occurrences of shared k-token " +
    "spans, straddling line boundaries, unioning overlaps") {
    val docs = Seq(
      (1L, "a1 a2 B1 B2 B3 B4 B5 B6 B7 B8 c1 c2"), // first occurrence wins
      (2L, "x1 B1 B2 B3 B4 B5 B6 B7 B8 x2"),       // loser: B-run removed
      (3L, "u1\tu2"),                               // untouched (normalized)
      (5L, "B1 B2 B3 B4 B5 B6 B7 B8 q B1 B2 B3 B4 B5 B6 B7 B8"), // both lose
      (6L, "pre B1 B2 B3\nB4 B5 B6 B7 B8 post")     // straddles a newline
    ).toDF("doc_id", "text")
    val out = Dedup.dropSharedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "a1 a2 B1 B2 B3 B4 B5 B6 B7 B8 c1 c2",
      2L -> "x1 x2",
      3L -> "u1 u2",
      5L -> "q",
      6L -> "pre post"), out.toString)
  }

  test("dropSharedSpans: span text never shuffles, winner hash-aggregates") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = Dedup.dropSharedSpans(docs, "doc_id", "text", k = 8)
    out.write.format("noop").mode("overwrite").save()
    val root = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exs = root.collect { case e: ShuffleExchangeExec => e }
    assert(exs.nonEmpty)
    val textful = exs.filter(_.output.exists(_.dataType == StringType))
    assert(textful.isEmpty,
      s"span/doc text must not ride a shuffle in the broadcast regime:\n$textful")
    assert(!root.toString.contains("SortAggregate"), root.toString)
  }

  test("dropSharedSpans interval rebuild ≡ independent per-token reference " +
    "on a boilerplate-heavy corpus (dense overlapping removals)") {
    val k = 4
    // independent driver-side reference of the FULL semantics: token i of
    // doc d is removed iff covered by a non-winner occurrence of a span
    // whose text occurs more than once corpus-wide; winner = min (id, start)
    def reference(docs: Seq[(Long, String)]): Map[Long, String] = {
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      val occ = for {
        (id, ts) <- toks.toSeq
        s <- 0 to (ts.length - k) if ts.length >= k
      } yield (ts.slice(s, s + k).mkString(" "), id, s)
      val losers = occ.groupBy(_._1).values.flatMap { g =>
        val w = g.minBy(x => (x._2, x._3))
        g.filterNot(_ == w)
      }
      val rm = losers.groupBy(_._2)
        .map { case (id, xs) => id -> xs.map(_._3).toSet }
      docs.map { case (id, _) =>
        val ts = toks(id)
        val r = rm.getOrElse(id, Set.empty[Int])
        id -> ts.zipWithIndex
          .collect { case (t, i) if !r.exists(s => i >= s && i < s + k) => t }
          .mkString(" ")
      }.toMap
    }
    // 40 docs interleaving template slices (varied offsets/lengths) with
    // unique tokens: many shared spans, overlapping and adjacent removal
    // windows, some docs mostly boilerplate
    val tmpl = (0 until 12).map(i => s"T$i")
    val docs = (0L until 40L).map { id =>
      val parts = (0 until 4).flatMap { j =>
        val off = ((id + j) % 8).toInt
        val len = k + ((id * 7 + j) % 5).toInt
        tmpl.slice(off, math.min(off + len, tmpl.length)) :+ s"u${id}_$j"
      }
      (id, parts.mkString(" "))
    }
    val expected = reference(docs)
    val out = Dedup.dropSharedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == expected,
      out.toSeq.sortBy(_._1).zip(expected.toSeq.sortBy(_._1))
        .filter(p => p._1 != p._2).take(3).toString)
  }

  test("WordWindowHashes surrogate groups windows EXACTLY like " +
    "span-string equality (well-defined and injective on observed spans)") {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val k = 3
    val docs = Seq(
      (1L, "a b c a b c a b"),
      (2L, " a  b\tc a b c x y "),   // odd whitespace, same spans as 1
      (3L, "ab c ab c"),             // token-boundary trap: "ab c" != "a b c"
      (4L, "a b c a b c a b"),       // exact dup of 1
      (5L, "xy")                     // shorter than k
    ).toDF("doc_id", "text")
    val both = docs.select(col("doc_id"),
      posexplode(when(
        size(graft.functions.TextFunctions.wsTokens(col("text"))) < k,
        array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0),
            size(graft.functions.TextFunctions.wsTokens(col("text"))) - k),
          i => concat_ws(" ", slice(
            graft.functions.TextFunctions.wsTokens(col("text")), i + 1,
            lit(k)))))).as(Seq("idx", "span")))
      .join(docs.select(col("doc_id"),
        toCol(graft.functions.expressions.WordWindowHashes(
          toExpr(col("text")), k)).as("wh")), "doc_id")
      .select(col("doc_id"), col("idx"), col("span"),
        col("wh")(col("idx")).as("h"))
      .collect()
      .map(r => (r.getString(2), (r.getStruct(3).getLong(0),
        r.getStruct(3).getLong(1))))
    assert(both.nonEmpty)
    // well-defined: equal spans -> equal hash pairs
    both.groupBy(_._1).foreach { case (s, xs) =>
      assert(xs.map(_._2).distinct.size == 1, s"span $s got multiple hashes")
    }
    // injective on observed values: distinct spans -> distinct pairs
    assert(both.map(_._1).distinct.size == both.map(_._2).distinct.size)
  }

  test("dropSharedSpans fails loudly on duplicate ids instead of " +
    "cross-applying removal lists") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (1L, "a b c d e f g h x"),
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.dropSharedSpans(docs, "doc_id", "text", k = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("duplicate id")),
      e.toString)
  }

  test("packed winner preserves (id, idx) order across negative ids") {
    val docs = Seq(
      (-5L, "shared\nonly_neg"),   // lowest id wins "shared"
      (3L, "shared\nother")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(-5L -> "shared\nonly_neg", 3L -> "other"), out.toString)
  }
}

class VocabCoverageSpec extends SparkSpec {
  import spark.implicits._

  test("vocabularyCoverage counts OOV token occurrences against the " +
    "deterministic top-N vocabulary") {
    val docs = Seq(
      (1L, "the the the cat"),   // "the" x3 dominates the corpus
      (2L, "the dog dog"),
      (3L, "zebra quokka"),      // fully OOV at vocabSize=2
      (4L, "   ")                // tokenless: no output row
    ).toDF("doc_id", "text")
    // counts: the=4, dog=2, cat=1, zebra=1, quokka=1 -> vocab(2) = {the, dog}
    val out = TfIdf.vocabularyCoverage(docs, "doc_id", "text", vocabSize = 2)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"))).toMap
    assert(out == Map(1L -> (4L, 1L), 2L -> (3L, 0L), 3L -> (2L, 2L)))
  }

  test("vocabulary boundary ties break by term (count desc, term asc)") {
    // beta and alpha tie at 2 occurrences; vocabSize=2 must take
    // {alpha, gamma}? no: gamma=3 wins, then the alpha/beta tie -> alpha
    val docs = Seq((1L, "gamma gamma gamma alpha alpha beta beta"))
      .toDF("doc_id", "text")
    val out = TfIdf.vocabularyCoverage(docs, "doc_id", "text", vocabSize = 2)
      .head()
    assert(out.getAs[Long]("n_tokens") == 7L)
    assert(out.getAs[Long]("oov_tokens") == 2L) // beta's two occurrences
  }

  test("shuffle-join fallback matches broadcast mode; broadcast plan audited") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(200)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"))).toSet
    val viaBroadcast = TfIdf.vocabularyCoverage(docs, "doc_id", "text", 100)
    val viaShuffle = TfIdf.vocabularyCoverage(docs, "doc_id", "text", 100,
      broadcastVocab = false)
    assert(canon(viaBroadcast) == canon(viaShuffle))
    assert(canon(viaBroadcast).nonEmpty)
    val bPlan = viaBroadcast.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    val sPlan = viaShuffle.queryExecution.executedPlan.toString
    assert(!sPlan.contains("BroadcastHashJoin"), sPlan)
  }

  test("tokenizer kernel runs ONCE: tf is materialized before the " +
    "vocab/coverage branches (r14 one-pass shape)") {
    val docs = Seq((1L, "the the cat"), (2L, "the dog")).toDF("doc_id", "text")
    val out = TfIdf.vocabularyCoverage(docs, "doc_id", "text", vocabSize = 1)
    out.collect()
    // after materializeOnce the executed plan consumes the checkpointed
    // tf rows — the tokenize expression appears in NEITHER branch
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_token_counts"),
      s"tokenizer must not re-execute per branch:\n$plan")
  }

  test("vocabularyCoverage accepts the BPE counter (budgets in tokenizer " +
    "tokens, merged tokens land in the vocabulary)") {
    val enc = graft.functions.Bpe.planted
    val docs = Seq(
      (1L, "the the the"),   // 'the' merges to one token x3
      (2L, "the qqq")        // q|q|q all OOV at vocabSize=1
    ).toDF("doc_id", "text")
    val out = TfIdf.vocabularyCoverage(docs, "doc_id", "text", vocabSize = 1,
      termCounter = Some(c => graft.functions.Bpe.tokenCountsMap(c, enc)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val byId = out
    // doc 1: tokens the,_,the,_,the -> 5 tokens; vocab(1) by count = ' '
    // (3 occurrences across corpus? doc1 has 2 spaces, doc2 has 1 -> ' 'x3
    // vs 'the'x4 -> vocab = {the}); doc1 oov = 2 spaces
    assert(byId(1L) == (5L, 2L), byId.toString)
    // doc 2: the,_,q,q,q -> 5 tokens, oov = space + 3 q's = 4
    assert(byId(2L) == (5L, 4L), byId.toString)
  }
}

class BpePackingSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences budgets in BPE tokens when fed the BPE counter " +
    "(the r14 tokenizer-parameterized packing path)") {
    val enc = graft.functions.Bpe.planted
    val docs = Seq(
      (1L, "the thing"),      // the=1 + ' '=1 + th|ing=2 -> 4 tokens
      (2L, "and"),            // 1 token
      (3L, "nation nation")   // n|a|ti|on x2 + ' ' -> 9 tokens
    ).toDF("doc_id", "text")
    val counted = docs.select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), enc).as("n_bpe"))
    val got = counted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 2L -> 1L, 3L -> 9L), got.toString)
    val packed = Packing.packSequences(counted, "doc_id", "n_bpe",
      budget = 5L, numShards = 1,
      shardExpr = Some(lit(0))) // one shard: in-shard order is id order
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // fold in id order with budget 5: doc1(4) -> bin0 fill4; doc2(1) ->
    // bin0 fill5; doc3(9) > budget -> quarantine bin -1
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> -1L), packed.toString)
  }
}

class AsOfToleranceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(epochSec: Long) = new java.sql.Timestamp(epochSec * 1000)

  test("nearestPriorWithin nulls matches older than the tolerance") {
    val left = Seq(
      (1L, ts(1000), "fresh"),   // prior right at 900 -> 100s stale, kept
      (1L, ts(5000), "stale"),   // prior right at 900 -> 4100s stale, nulled
      (2L, ts(1000), "none")     // no prior right at all
    ).toDF("k", "ts", "tag")
    val right = Seq((1L, ts(900), 42L)).toDF("k", "rts", "payload")

    val out = AsOfJoin.nearestPriorWithin(left, right,
      leftKey = "k", rightKey = "k", leftTs = "ts", rightTs = "rts",
      payloads = Seq("payload"), toleranceSeconds = 1000)
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Long]("payload"))).toMap

    assert(out("fresh").contains(42L))
    assert(out("stale").isEmpty)
    assert(out("none").isEmpty)
  }
}

class MultiTableLshSpec extends SparkSpec {
  import spark.implicits._

  private def perturbed(seed: Int): org.apache.spark.sql.DataFrame = {
    // 80 base vectors; ids 1000+i are small perturbations of i (near dups)
    val rnd = new scala.util.Random(seed)
    val base = (0 until 80).map(i => i.toLong -> Array.fill(32)(rnd.nextGaussian().toFloat))
    val near = base.map { case (i, v) =>
      (i + 1000L) -> v.map(x => x + rnd.nextGaussian().toFloat * 0.08f)
    }
    (base ++ near).toDF("vec_id", "embedding")
  }

  test("multi-table LSH recalls strictly no fewer planted pairs than one table") {
    val df = perturbed(11)
    def plantedRecall(pairs: org.apache.spark.sql.DataFrame): Int =
      pairs.filter(col("id_b") === col("id_a") + 1000L).count().toInt

    val single = plantedRecall(Similarity.annBuckets(df, "vec_id", "embedding",
      numPlanes = 10, dim = 32, minCos = 0.8))
    val multi = plantedRecall(Similarity.annBuckets(df, "vec_id", "embedding",
      numTables = 6, numPlanes = 10, dim = 32, minCos = 0.8))
    assert(multi >= single)
    assert(multi > single, s"multi ($multi) should beat single ($single) here")
    // pairs deduplicate across tables
    val m = Similarity.annBuckets(df, "vec_id", "embedding",
      numTables = 6, numPlanes = 10, dim = 32, minCos = 0.8)
    assert(m.groupBy("id_a", "id_b").count().filter(col("count") > 1).count() == 0)
  }

  test("numPlanes = 0 auto-scales in the multi-table path too") {
    // regression: 0 used to build ZERO hyperplanes here, co-bucketing the
    // whole corpus into one mega-bucket that maxBucket then silently
    // dropped — auto mode must bucket (and find planted pairs) instead
    val df = perturbed(13)
    val auto = Similarity.annBuckets(df, "vec_id", "embedding",
      numTables = 4, numPlanes = 0, dim = 32, minCos = 0.8, autoFloor = 12)
    assert(auto.filter(col("id_b") === col("id_a") + 1000L).count() > 0)
    // on a small corpus auto resolves to the floor — 12 planes here — so
    // the auto run must equal an explicit 12-plane run bit for bit; a
    // floor regression (the bug class the per-entry floors fixed) breaks
    // this identity
    val manual = Similarity.annBuckets(df, "vec_id", "embedding",
      numTables = 4, numPlanes = 12, dim = 32, minCos = 0.8)
    assert(auto.collect().toSet == manual.collect().toSet)
  }
}

class BandTuningSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.functions.MinHash

  test("suggestBands: higher thresholds need fewer bands; divisor constraint") {
    val loose = MinHash.suggestBands(64, 0.3)
    val strict = MinHash.suggestBands(64, 0.9)
    assert(loose > strict)
    assert(64 % loose == 0 && 64 % strict == 0)
    // the classic 0.5 target on 64 hashes lands near b=16/r=4 territory
    val mid = MinHash.suggestBands(64, 0.5)
    assert(mid >= 8 && mid <= 32)
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dropKnown removes known content, keeps new; ids irrelevant") {
    val corpus = Seq((1L, "known one"), (2L, "known two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "known one"),   // dup of corpus doc under a new id
      (11L, "brand new"),
      (12L, "known two"),
      (13L, "also new")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropKnown(batch, corpus, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))
  }
}
