package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.types._

import graft.Graft
import graft.plans.TablePlan
import graft.sources.{Jdbc, PqRepo}
import graft.sync.Modified

/** db2pq's own loop against an embedded Derby source: extract, update
  * checks that must skip, keyed daily merges, and the reverse load. */
final class EtlSync(ctx: Ctx) extends Workload {
  import ctx._

  private var in: EtlInputs = _
  private var url: String = _
  private var lastDb: Option[String] = None
  private var repo: PqRepo = _
  private var sourceSchema: StructType = _
  private var changeFrames: Seq[DataFrame] = Nil
  private var expectLanded = 0L
  private var storedBytes = 0L
  private var extractFiles = 0L
  private var extractRowGroups = 0L
  private var checks = 0L
  private var skipped = 0L
  private var updatesSeen = 0L // keeps the timed gate loop from being optimized away
  private val mergeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val rewritten = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val probe = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private val Schema = "BENCH"
  private val Table = "SRC"
  private val commentSql = "SELECT REMARK FROM BENCH.COMMENTS WHERE TBL = 'SRC'"

  /** drop-then-keep regex, rename, colTypes (int4, the boolean cast,
    * numericMode), tz and where — the whole TablePlan surface. */
  val plan: TablePlan = TablePlan(
    drop = Seq("^TMP_"),
    keep = Seq("^(ID|ACCT_ID|QTY|AMT|NAME|CREATED|FLAG)$"),
    rename = Map("ACCT_ID" -> "account_id", "QTY" -> "qty", "AMT" -> "amt",
      "NAME" -> "name", "CREATED" -> "created", "FLAG" -> "is_active"),
    colTypes = Map("qty" -> "int4", "is_active" -> "boolean"),
    where = Some("AMT > -900"),
    tz = Some("America/New_York"),
    numericMode = Some("float64"))

  val outSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("account_id", LongType),
    StructField("qty", IntegerType), StructField("amt", DoubleType),
    StructField("name", StringType), StructField("created", TimestampType),
    StructField("is_active", BooleanType)))

  private def outRow(o: OutRow): Row =
    Row(o.id, o.account, o.qty, o.amt, o.name, o.created, o.active)

  private def sql[A](f: java.sql.Statement => A): A = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
  }

  private def derbyCount(where: String): Long = sql { st =>
    val rs = st.executeQuery(s"SELECT COUNT(*) FROM $where")
    rs.next(); rs.getLong(1)
  }

  /** The partitioned JDBC scan the extract lands. Derby cannot run the
    * plan's PostgreSQL-dialect pushdown SQL (`::` casts), so the plan is
    * applied by Spark over this scan, through `Graft.anyFormatToPq`. */
  private def jdbcOptions: Map[String, String] = Map(
    "url" -> url,
    "dbtable" -> s"$Schema.$Table",
    "partitionColumn" -> "ID",
    "lowerBound" -> "1",
    "upperBound" -> (in.rows.length + 1).toString,
    "numPartitions" -> math.min(4, cores).toString, // at most nproc connections
    "fetchsize" -> Jdbc.adaptiveFetchSize(sourceSchema).toString,
    "preferTimestampNTZ" -> "true")

  def setup(rep: Int): Unit = {
    in = Sizes.etl(seed, scale)
    val db = s"bench_etl_$rep"
    url = s"jdbc:derby:memory:$db;create=true"
    val csv = new File(dir("etl"), s"src_$rep.csv")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(csv), UTF_8))
    try in.rows.foreach { r => w.write(in.csvLine(r)); w.write('\n') } finally w.close()
    sql { st =>
      st.execute(s"CREATE SCHEMA $Schema")
      st.execute(s"CREATE TABLE $Schema.$Table (ID BIGINT NOT NULL PRIMARY KEY, " +
        "ACCT_ID BIGINT, QTY BIGINT, AMT DECIMAL(18,4), NAME VARCHAR(32), " +
        "CREATED TIMESTAMP, FLAG VARCHAR(8), NOTE VARCHAR(32), " +
        "TMP_NOTE VARCHAR(16), TMP_SEQ INTEGER)")
      st.execute(s"CREATE TABLE $Schema.COMMENTS (TBL VARCHAR(32), REMARK VARCHAR(128))")
      st.execute(s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE('$Schema', '$Table', " +
        s"'${csv.getAbsolutePath}', ',', '\"', 'UTF-8', 0)")
      st.execute(s"INSERT INTO $Schema.COMMENTS VALUES ('SRC', '${in.comment}')")
    }
    csv.delete()
    lastDb.foreach(d => scala.util.Try(DriverManager.getConnection(s"jdbc:derby:memory:$d;drop=true")))
    lastDb = Some(db)
    sourceSchema = spark.read.format("jdbc").option("url", url)
      .option("dbtable", s"$Schema.$Table").option("preferTimestampNTZ", "true")
      .load().schema
    expectLanded = derbyCount(s"$Schema.$Table WHERE ${in.whereSql}")
    require(expectLanded == in.landedRows,
      s"Derby holds $expectLanded landed rows, generator made ${in.landedRows}")
    repo = PqRepo(spark, new File(dir("etl"), s"repo_$rep").getAbsolutePath)
    repo.write(frame(in.loadRows.map(outRow), outSchema), Schema, "LOADSRC")
    changeFrames = in.changes.map(b => frame(b.map(outRow), outSchema))
  }

  private def tableDir(t: String) = new File(repo.tablePath(Schema, t).toUri.getPath)

  // the pass time falls for the first few passes of a JVM, while the JIT
  // compiles the JDBC, Derby and merge paths; measure after three
  override def warmupPasses: Int = 3

  def pass(p: Int): Unit = {
    // two extracts, each replacing the table: the extract is the pass's
    // noisiest operation, and a run has only a few passes
    for (_ <- 1 to 2) {
      rec.op("extract") {
        span("graft.extract") {
          Graft.anyFormatToPq(spark, "jdbc", jdbcOptions, repo, Schema, Table,
            plan = plan, modified = Some(in.comment))
        }
      }
      val files = Fs.parquetFiles(tableDir(Table))
      storedBytes = files.map(_._2).sum
      extractFiles = files.length
      if (trace.enabled)
        extractRowGroups = Fs.rowGroups(files.map(f => new File(tableDir(Table), f._1)))
      val landed = repo.table(Schema, Table)
      rec.expect(landed.count() == expectLanded, s"extract landed != Derby count under where")
      rec.expect(repo.lastModified(Schema, Table).contains(in.comment), "lastModified != source comment")
      rec.expect(landed.schema.map(f => f.name -> f.dataType) == outSchema.map(f => f.name -> f.dataType),
        s"output schema ${landed.schema.simpleString} is not the plan's")
    }

    for (_ <- 1 to 10) {
      val r = rec.op("check") {
        span("sync.check") {
          Graft.dbUpdatePqFromDb(spark, url, Schema, Table, sourceSchema, repo,
            plan = plan, commentSql = Some(commentSql))
        }
      }
      checks += 1
      if (r.isEmpty) skipped += 1
      rec.expect(r.isEmpty, "update check did not skip on an unchanged comment")
    }

    changeFrames.zipWithIndex.foreach { case (batch, b) =>
      val before = Fs.parquetFiles(tableDir(Table))
      rec.op("merge") {
        span("sources.pqrepo.merge") { repo.merge(batch, Schema, Table, Seq("ID")) }
      }
      if (trace.enabled) {
        val after = Fs.parquetFiles(tableDir(Table))
        val kept = before.toSet
        val fresh = after.filterNot(kept.contains)
        rewritten += (if (before.isEmpty) 0.0 else before.count(f => !after.contains(f)).toDouble / before.length)
        val batchRaw = in.changes(b).map(o => 8L * 5 + 1 + o.name.getBytes(UTF_8).length).sum
        mergeAmp += fresh.map(_._2).sum.toDouble / batchRaw
      }
    }
    val counts = repo.table(Schema, Table).agg(count(lit(1)), countDistinct(col("ID"))).head()
    val n = counts.getLong(0)
    val expectMerged = expectLanded + changeFrames.length * in.insertsPerBatch
    rec.expect(n == expectMerged, s"rows after merges $n, expected $expectMerged")
    rec.expect(counts.getLong(1) == n, "merge left duplicate keys")

    rec.op("load") {
      span("sources.jdbc.load") {
        Graft.pqToDb(repo, url, Schema, "LOADSRC", dstTable = Some("LOADED"))
      }
    }
    rec.expect(derbyCount(s"$Schema.LOADED") == in.loadRows.length, "Derby rows after load != repo rows")
  }

  def layerProbes(): Unit = {
    import Probe.medianOf
    val reader = spark.read.format("jdbc").options(jdbcOptions)
    val scan = reader.load()
    probe("plans.plan_ms") = 1000 * medianOf(20) {
      plan(scan)
      plan.toSelectSql(Schema, Table, sourceSchema)
    }
    probe("sources.jdbc.read_s") = medianOf(2) {
      span("sources.jdbc.read") {
        Probe.noop(plan(reader.load()))
      }
    }
    probe("sources.jdbc.comment_ms") = 1000 * medianOf(20) {
      Jdbc.tableComment(url, Schema, Table, Some(commentSql))
    }
    val stored = repo.lastModified(Schema, Table)
    val gateReps = 20000
    val t0 = System.nanoTime()
    for (_ <- 1 to gateReps)
      if (Modified.updateAvailable(Modified.info("src", Some(in.comment)), Modified.info("pq", stored)))
        updatesSeen += 1
    probe("sync.gate_us") = (System.nanoTime() - t0) / 1e3 / gateReps
    probe("sources.pqrepo.last_modified_ms") = 1000 * medianOf(10) { repo.lastModified(Schema, Table) }
  }

  def endToEnd(): Seq[(String, Double)] = Seq(
    "bulk_items_per_s" -> expectLanded / rec.p50("extract"),
    "incr_p50_ms" -> 1000 * rec.p50("check"),
    "write_p50_ms" -> 1000 * rec.p50("merge"),
    "quality" -> in.landedRawBytes.toDouble / storedBytes)

  def report(): Seq[Named] = Seq(
    Named("extract_rows_per_s", expectLanded / rec.p50("extract"), "rows/s", rec.n("extract")),
    Named("check_p50_ms", 1000 * rec.p50("check"), "ms", rec.n("check")),
    Named("check_p90_ms", 1000 * rec.p90("check"), "ms", rec.n("check")),
    Named("merge_p50_s", rec.p50("merge"), "s", rec.n("merge")),
    Named("load_rows_per_s", in.loadRows.length / rec.p50("load"), "rows/s", rec.n("load")),
    Named("stored_bytes_per_source_byte", storedBytes.toDouble / in.landedRawBytes, "ratio", 1))

  def perLayer(): Seq[(String, Double)] = {
    val read = probe.getOrElse("sources.jdbc.read_s", 0.0)
    val readSpan = trace.spans.filter(_.name == "sources.jdbc.read")
    probe.toSeq ++ Seq(
      "sources.jdbc.read_task_skew" -> SpanMath.skew(readSpan.flatMap(_.stageTaskMs.values.map(_.toSeq))),
      "sources.jdbc.load_s" -> spanMedianS("sources.jdbc.load"),
      "sources.pqrepo.write_s" -> math.max(0.0, spanMedianS("graft.extract") - read),
      "sources.pqrepo.bytes_written" -> storedBytes.toDouble,
      "sources.pqrepo.files_written" -> extractFiles.toDouble,
      "sources.pqrepo.row_groups" -> extractRowGroups.toDouble,
      "sources.pqrepo.merge_s" -> spanMedianS("sources.pqrepo.merge"),
      "sources.pqrepo.merge_write_amp" -> SpanMath.median(mergeAmp.toSeq),
      "sources.pqrepo.partitions_rewritten_ratio" -> SpanMath.median(rewritten.toSeq),
      "sync.skip_ratio" -> (if (checks == 0) 0.0 else skipped.toDouble / checks))
  }

  def inputStats: Seq[(String, Any)] = in.stats

  override def close(): Unit =
    lastDb.foreach(d => scala.util.Try(DriverManager.getConnection(s"jdbc:derby:memory:$d;drop=true")))
}
