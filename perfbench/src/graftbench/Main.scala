package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, closed loop, one client.
  *
  * {{{
  * graftbench.Main --workload etl_sync --seed 1 --seconds 10 --trace 0
  *   --root <run dir> --result <file> [--cores n] [--scale f] [--spans <file>]
  * graftbench.Main --dump-inputs --workload w --seed n [--scale f]
  * graftbench.Main --selftest
  * }}}
  *
  * The result file holds the metrics by name; `perfbench/run.py` turns it
  * into the benchmark's output line. */
object Main {

  val Workloads = Seq("etl_sync", "corpus_dedup", "vector_search")

  /** Set-ups per run; `setup_s` is their median plus the warm-up passes. */
  val Setups = 3

  val EndToEnd = Seq("setup_s", "pass_s", "bulk_items_per_s", "incr_p50_ms",
    "write_p50_ms", "quality", "cpu_s")

  /** Operation spans whose Spark work is reported per call. */
  val OpSpans = Seq("graft.extract", "sources.pqrepo.merge", "sources.jdbc.load",
    "operators.dedup.curate", "operators.dedup.ingest",
    "operators.similarity.search", "operators.similarity.append")
  val SparkFields = Seq("jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "spill_bytes",
    "task_skew", "task_wait_s")

  /** Span-name prefixes that name a layer (longest match wins). */
  val Layers = Seq("graft", "plans", "sources.jdbc", "sources.pqrepo", "sync",
    "functions", "operators.dedup", "operators.similarity", "streaming")

  val PerLayer: Seq[String] = Seq(
    "plans.plan_ms",
    "sources.jdbc.read_s", "sources.jdbc.read_task_skew", "sources.jdbc.comment_ms",
    "sources.jdbc.load_s",
    "sources.pqrepo.write_s", "sources.pqrepo.bytes_written", "sources.pqrepo.files_written",
    "sources.pqrepo.row_groups", "sources.pqrepo.last_modified_ms", "sources.pqrepo.merge_s",
    "sources.pqrepo.merge_write_amp", "sources.pqrepo.partitions_rewritten_ratio",
    "sync.gate_us", "sync.skip_ratio",
    "functions.minhash_ns_per_doc", "functions.text_gate_ns_per_doc",
    "functions.cosine_ns_per_pair", "functions.topk_ns_per_row",
    "operators.dedup.exact_s", "operators.dedup.near_s", "operators.dedup.candidate_pairs",
    "operators.dedup.verified_pairs", "operators.dedup.pair_yield",
    "operators.dedup.cc_iterations", "operators.dedup.removed_fraction",
    "operators.dedup.index_write_s", "operators.dedup.drop_known_s", "operators.dedup.append_s",
    "operators.similarity.read_index_ms", "operators.similarity.search_s",
    "operators.similarity.rows_scored_per_query", "operators.similarity.append_s",
    "streaming.ledger_ms") ++
    OpSpans.flatMap(s => SparkFields.map(f => s"$s.$f")) ++
    Layers.map(l => s"layer.$l.self_s") ++
    Seq("trace.overhead_pass_s")

  val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  private def argMap(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = "1"; i += 1 }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    if (a.contains("selftest")) sys.exit(if (SelfTest.run()) 0 else 1)
    if (a.contains("train")) { train(new File(a("root")), a.get("cores")); return }
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = a("seed").toLong
    val scale = a.get("scale").map(_.toDouble).getOrElse(1.0)
    if (a.contains("dump-inputs")) { dumpInputs(workload, seed, scale); return }
    run(workload, seed, scale, a)
  }

  def dumpInputs(workload: String, seed: Long, scale: Double): Unit = {
    val (lines, stats) = workload match {
      case "etl_sync" => val in = Sizes.etl(seed, scale); (in.lines, in.stats)
      case "corpus_dedup" => val in = Sizes.corpus(seed, scale); (in.lines, in.stats)
      case _ => val in = Sizes.vectors(seed, scale); (in.lines, in.stats)
    }
    println(Json.obj(Seq("workload" -> workload, "seed" -> seed,
      "sha256" -> Inputs.digest(lines), "stats" -> Json.obj(stats))))
  }

  /** Runs every workload once at a tiny scale, in this JVM. The
    * build runs it with `-XX:ArchiveClassesAtExit`, so that the class-data
    * sharing archive holds the classes every benchmark run loads. */
  def train(root: File, cores: Option[String]): Unit =
    Workloads.foreach { w =>
      val dir = new File(root, w)
      run(w, 1L, 0.02, Map("seconds" -> "0", "trace" -> "0",
        "root" -> dir.getPath, "result" -> new File(root, s"$w.json").getPath,
        "spans" -> new File(root, s"$w.jsonl").getPath) ++ cores.map("cores" -> _))
    }

  private def run(workload: String, seed: Long, scale: Double, a: Map[String, String]): Unit = {
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val root = new File(a("root"))
    val resultFile = new File(a("result"))
    root.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val trace = new Trace(spark.sparkContext)
    val rec = new Recorder
    val ctx = new Ctx(spark, new File(root, "data"), seed, cores, scale, rec, trace)
    val wl: Workload = workload match {
      case "etl_sync" => new EtlSync(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case _ => new VectorSearch(ctx)
    }

    def hygiene(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    val setupTimes = ArrayBuffer.empty[Double]
    val passTimes = ArrayBuffer.empty[Double]
    val untracedPass = ArrayBuffer.empty[Double]
    val cpuTimes = ArrayBuffer.empty[Double]
    var warm = 0.0
    var error: Option[String] = None
    var passes = 0
    var measuredS = 0.0
    var stealS = 0.0
    try {
      for (rep <- 0 until Setups) { hygiene(); setupTimes += Probe.timed(wl.setup(rep)) }
      for (p <- 0 until wl.warmupPasses) { hygiene(); warm += Probe.timed(wl.pass(p)) }
      rec.takePassSeconds()
      // a traced run alternates traced and untraced passes, for the overhead
      val minPasses = if (traced) 2 else 1
      val t0 = System.nanoTime()
      val steal0 = Steal.seconds()
      val first = wl.warmupPasses
      var p = first
      while (p < first + minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        hygiene()
        trace.enabled = traced && (p - first) % 2 == 0
        trace.traceId = p
        rec.measuring = true
        trace.drain()
        val cpu0 = trace.fold.cpuNs.get()
        wl.pass(p)
        trace.drain()
        cpuTimes += (trace.fold.cpuNs.get() - cpu0) / 1e9
        val s = rec.takePassSeconds()
        if (trace.enabled || !traced) passTimes += s else untracedPass += s
        p += 1
      }
      passes = p - first
      measuredS = (System.nanoTime() - t0) / 1e9
      stealS = Steal.seconds() - steal0
      rec.measuring = false
      if (traced) {
        hygiene()
        trace.enabled = true
        trace.traceId = 0
        wl.layerProbes()
        trace.enabled = false
        trace.drain()
      }
    } catch {
      case e: Throwable =>
        rec.failed += 1
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }

    val metrics = ArrayBuffer.empty[(String, Double)]
    val report = ArrayBuffer.empty[Named]
    if (error.isEmpty) {
      val pass = SpanMath.median(passTimes.toSeq)
      val cpu = SpanMath.median(cpuTimes.toSeq)
      val setup = SpanMath.median(setupTimes.toSeq) + warm
      if (traced) {
        val layer = wl.perLayer().toMap ++ attribution(trace) ++ layerSelf(trace) +
          ("trace.overhead_pass_s" -> (pass - SpanMath.median(untracedPass.toSeq)))
        metrics ++= PerLayer.map(n => n -> layer.getOrElse(n, 0.0))
        writeSpans(trace, new File(a("spans")), workload, seed, wl.inputStats)
      } else {
        val e2e = wl.endToEnd().toMap ++ Map("setup_s" -> setup, "pass_s" -> pass, "cpu_s" -> cpu)
        metrics ++= EndToEnd.map(n => n -> e2e(n))
      }
      report ++= wl.report() ++ Seq(
        Named("setup_s", setup, "s", setupTimes.length),
        Named("pass_s", pass, "s", passTimes.length),
        Named("cpu_s", cpu, "s", cpuTimes.length),
        Named("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio",
          rec.attempted.toInt),
        Named("steal_s", stealS, "s", 1))
    }
    wl.close()
    spark.stop()

    val correct = error.isEmpty && rec.failed == 0
    val out = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> math.max(1L, rec.attempted),
      "failed" -> rec.failed,
      "metrics" -> Json.obj(metrics.toSeq),
      "report" -> Json.arr(report.toSeq.map(r => Json.arr(Seq(r.name, r.value, r.unit, r.n)))),
      "passes" -> passes,
      "measured_s" -> measuredS,
      "setup_runs_s" -> Json.arr(setupTimes.toSeq),
      "pass_runs_s" -> Json.arr(passTimes.toSeq),
      "warmup_s" -> warm,
      "inputs" -> Json.obj(scala.util.Try(wl.inputStats).getOrElse(Nil)),
      "failures" -> Json.arr((rec.failures ++ error).toSeq)))
    val w = new PrintWriter(resultFile, UTF_8.name())
    try w.println(out) finally w.close()
  }

  private def children(spans: Seq[Span]): Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  private def subtree(s: Span, kids: Map[Long, Seq[Span]]): Seq[Span] =
    s +: kids.getOrElse(s.id, Nil).flatMap(subtree(_, kids))

  /** Per call of each operation span: its Spark work, descendants
    * included; the median over calls. */
  def attribution(trace: Trace): Map[String, Double] = {
    val spans = trace.spans.filter(_.endNs > 0)
    val kids = children(spans)
    OpSpans.flatMap { name =>
      val calls = spans.filter(_.name == name).map { s =>
        val t = subtree(s, kids)
        Map(
          "jobs" -> t.map(_.jobs).sum.toDouble,
          "tasks" -> t.map(_.tasks).sum.toDouble,
          "exec_cpu_s" -> t.map(_.cpuNs).sum / 1e9,
          "shuffle_bytes" -> t.map(_.shuffleBytes).sum.toDouble,
          "spill_bytes" -> t.map(_.spillBytes).sum.toDouble,
          "task_skew" -> SpanMath.skew(t.flatMap(_.stageTaskMs.values.map(_.toSeq))),
          "task_wait_s" -> t.map(_.waitMs).sum / 1e3)
      }
      SparkFields.map(f => s"$name.$f" -> SpanMath.median(calls.map(_(f))))
    }.toMap
  }

  def layerOf(name: String): Option[String] =
    Layers.filter(l => name == l || name.startsWith(l + ".")).sortBy(-_.length).headOption

  /** Self time per layer and traced pass, the median over passes. */
  def layerSelf(trace: Trace): Map[String, Double] = {
    val spans = trace.spans.filter(s => s.endNs > 0 && s.trace > 0)
    val kids = children(spans)
    val self = spans.map { s =>
      s -> SpanMath.selfNs(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e9
    }
    val byPass = self.groupBy(_._1.trace)
    Layers.map { l =>
      s"layer.$l.self_s" -> SpanMath.median(byPass.values.toSeq.map(
        _.filter(x => layerOf(x._1.name).contains(l)).map(_._2).sum))
    }.toMap
  }

  def writeSpans(trace: Trace, f: File, workload: String, seed: Long,
      inputs: Seq[(String, Any)]): Unit = {
    val spans = trace.spans.filter(_.endNs > 0)
    val kids = children(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, UTF_8.name())
    try {
      w.println(Json.obj(Seq("workload" -> workload, "seed" -> seed, "inputs" -> Json.obj(inputs))))
      spans.foreach { s =>
        val self = SpanMath.selfNs(s.startNs, s.endNs, kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        w.println(Json.obj(Seq(
          "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
          "dur_ms" -> s.durNs / 1e6, "self_ms" -> self / 1e6,
          "jobs" -> s.jobs, "tasks" -> s.tasks, "exec_cpu_ms" -> s.cpuNs / 1e6,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
          "task_wait_ms" -> s.waitMs)))
      }
    } finally w.close()
  }
}

/** CPU time the hypervisor gave to other guests (the `steal` column of
  * /proc/stat, all CPUs), for telling a loaded machine from a slow build;
  * 0 where the file is absent. */
object Steal {
  def seconds(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      f(8).toDouble / 100.0
    } finally src.close()
  }.getOrElse(0.0)
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Seq[_] => arr(s).s
    case other => str(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
}

/** Checks of the benchmark's own arithmetic and names (`--selftest`). */
object SelfTest {
  def run(): Boolean = {
    val checks = Seq(
      "coverage merges overlaps" -> (SpanMath.coverage(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L),
      "coverage of nothing" -> (SpanMath.coverage(Nil) == 0L),
      "self = span - children" -> (SpanMath.selfNs(0L, 100L, Seq((10L, 30L), (50L, 60L))) == 70L),
      "overlapping children count once" -> (SpanMath.selfNs(0L, 100L, Seq((10L, 30L), (20L, 40L))) == 70L),
      "children clipped to parent" -> (SpanMath.selfNs(10L, 20L, Seq((0L, 15L))) == 5L),
      "no children" -> (SpanMath.selfNs(5L, 9L, Nil) == 4L),
      "median" -> (SpanMath.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5),
      "p90 nearest rank" -> (SpanMath.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0),
      "skew" -> (SpanMath.skew(Seq(Seq(1L, 1L, 4L), Seq(5L))) == 4.0),
      "layer of span" -> (Main.layerOf("operators.dedup.ingest").contains("operators.dedup") &&
        Main.layerOf("sources.jdbc.load").contains("sources.jdbc") && Main.layerOf("x").isEmpty),
      "metric names" -> (Main.EndToEnd ++ Main.PerLayer).forall(_.matches(Main.NameRe)),
      "metric names unique" -> {
        val all = Main.EndToEnd ++ Main.PerLayer
        all.distinct.length == all.length && Main.PerLayer.length <= 128
      })
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    checks.forall(_._2)
  }
}
