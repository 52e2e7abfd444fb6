package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third argument restricts the run to a comma-separated query subset
  * (the 100×-scale pass runs just the headline dedup/ANN/curation set —
  * a full 85-query DuckDB compare at 100× would spend hours re-proving
  * queries whose scale behavior the 20× pass already pins). */
object Verify {
  /** Subset names with no registered query — non-empty aborts the run. */
  private[graft] def unknownNames(names: Set[String]): Set[String] =
    names -- SparkEntry.queries.keySet

  /** Runs `write` for each name in order. A non-fatal failure is printed
    * as `[verify] <name> failed` and the run goes on to the next name; a
    * fatal error (out of memory, an interrupt) propagates, so no
    * complete-looking `oracle_sql.json` follows it. */
  private[graft] def writeEach(names: Seq[String])(write: String => Unit): Unit =
    names.foreach { name =>
      try write(name)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)      => (s, o, None)
      case Array(s, o, sub) => (s, o, Some(sub.split(",").map(_.trim).toSet))
      case _ =>
        // a controlled exit, not a MatchError stack trace: the driver must
        // be able to tell operator error from harness breakage
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(2)
    }
    // a typo'd subset must not yield a shrunken-but-green artifact that
    // looks like a full pass: unknown names are a hard failure
    val unknown = only.map(unknownNames).getOrElse(Set.empty)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query names in subset: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // "*" is a valid local[...] token but not an int: integer-valued
    // settings fall back to the machine's core count
    val cpusInt = scala.util.Try(cpus.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpusInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    writeEach(queries.keys.toSeq) { name =>
      queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
