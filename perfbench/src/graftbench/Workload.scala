package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Operation log of one run: attempted and failed operations, and the
  * latency samples of the measured passes. An operation fails when it
  * throws or when a check of its output does not hold. */
final class Recorder {
  var measuring = false
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private var opFailed = false
  private var passSeconds = 0.0

  def op[A](name: String)(body: => A): A = {
    attempted += 1
    opFailed = false
    val t0 = System.nanoTime()
    val a = body
    val dt = (System.nanoTime() - t0) / 1e9
    passSeconds += dt
    if (measuring) add(name, dt)
    a
  }

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  /** Times a step inside an operation: a latency sample of its own, not
    * an operation and not added to the pass time again. */
  def sample[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    if (measuring) add(name, (System.nanoTime() - t0) / 1e9)
    a
  }

  /** Marks the latest operation failed (once) when `ok` is false. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (!opFailed) { failed += 1; opFailed = true }
      if (failures.length < 20) failures += what
    }

  def takePassSeconds(): Double = { val s = passSeconds; passSeconds = 0.0; s }

  def get(name: String): Seq[Double] = samples.getOrElse(name, ArrayBuffer.empty[Double]).toSeq
  def p50(name: String): Double = SpanMath.median(get(name))
  def p90(name: String): Double = SpanMath.percentile(get(name), 0.9)
  def n(name: String): Int = get(name).length
}

/** A measurement under a workload's own operation name, with its sample
  * count. */
final case class Named(name: String, value: Double, unit: String, n: Int)

/** What a workload sees of the run. */
final class Ctx(
    val spark: SparkSession,
    val root: File,
    val seed: Long,
    val cores: Int,
    val scale: Double,
    val rec: Recorder,
    val trace: Trace) {

  def dir(name: String): File = { val d = new File(root, name); d.mkdirs(); d }

  def frame(rows: Seq[Row], schema: StructType): DataFrame = {
    val l = new java.util.ArrayList[Row](rows.length)
    rows.foreach(l.add)
    spark.createDataFrame(l, schema)
  }

  def span[A](name: String)(body: => A): A = trace.span(name)(body)

  /** Median inclusive duration (s) of the traced spans with this name. */
  def spanMedianS(name: String): Double =
    SpanMath.median(trace.spans.filter(s => s.name == name && s.endNs > 0).map(_.durNs / 1e9))
}

trait Workload {
  /** Generates the inputs and loads them; run several times per run. */
  def setup(rep: Int): Unit
  /** Untimed passes before the measured ones; they count in `setup_s`. */
  def warmupPasses: Int = 1
  /** One closed-loop pass. Passes below [[warmupPasses]] are the warm-up;
    * a workload may run a shorter pass 0. */
  def pass(pass: Int): Unit
  /** Traced runs only: the probes that isolate single layers. */
  def layerProbes(): Unit
  /** End-to-end metrics by name (pass_s, cpu_s and setup_s come from Main). */
  def endToEnd(): Seq[(String, Double)]
  /** The same measurements under the workload's own operation names. */
  def report(): Seq[Named]
  /** Per-layer metrics this workload measures; the rest read 0. */
  def perLayer(): Seq[(String, Double)]
  def inputStats: Seq[(String, Any)]
  def close(): Unit = ()
}

/** Timing helpers of the layer probes. */
object Probe {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def medianOf(reps: Int)(body: => Unit): Double = SpanMath.median((1 to reps).map(_ => timed(body)))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** ns per row of `kernel` over a cached frame, minus the identity
    * projection of the same frame; best of three. */
  def kernelNs(df: DataFrame, kernel: DataFrame => DataFrame): Double = {
    val n = df.count()
    val k = (1 to 3).map(_ => timed(noop(kernel(df)))).min
    val id = (1 to 3).map(_ => timed(noop(df.select(df.columns.map(df.col).toIndexedSeq: _*)))).min
    math.max(0.0, (k - id) * 1e9 / n)
  }
}

object Fs {
  /** Parquet part files under `dir`, recursively: (relative path, bytes, mtime). */
  def parquetFiles(dir: File): Seq[(String, Long, Long)] = {
    val base = dir.toPath
    if (!dir.exists()) Nil
    else {
      val out = ArrayBuffer.empty[(String, Long, Long)]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          out += ((base.relativize(f.toPath).toString, f.length(), f.lastModified()))
      walk(dir)
      out.sortBy(_._1).toSeq
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def rowGroups(files: Seq[File]): Long = files.map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size.toLong finally r.close()
  }.sum
}
