package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.{Connection, DriverManager}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{FfiPipeline, Mapping}
import graft.sinks.{JdbcConstraints, MergeJdbc}
import org.apache.spark.sql.SparkSession

/** Ground truth of one export, as the generator wrote it. */
final case class ExportSpec(file: String, size: String, bytes: Long, rows: Long,
    expected: Map[String, (Long, String)])

/** A generated FFI batch: DDL, mapping, and the exports in load order. */
final case class FfiBatch(ddl: Seq[String], tables: Seq[(String, Seq[String])],
    mapping: Mapping, exports: Seq[ExportSpec])

object FfiBatch {
  def load(dir: Path): FfiBatch = {
    val j = Json.read(dir.resolve("ffi_batch.json"))
    def strs(n: com.fasterxml.jackson.databind.JsonNode) = n.elements().asScala.map(_.asText).toSeq
    val m = j.get("mapping")
    val mapping = Mapping(
      m.get("tableMap").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap,
      m.get("fieldMap").fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(p => (p.get(0).asText, p.get(1).asText)).toSeq
      }.toMap)
    FfiBatch(
      strs(j.get("ddl")),
      j.get("tables").elements().asScala.map(t => t.get(0).asText -> strs(t.get(1))).toSeq,
      mapping,
      j.get("exports").elements().asScala.map { e =>
        ExportSpec(e.get("file").asText, e.get("size").asText, e.get("bytes").asLong, e.get("rows").asLong,
          e.get("expected").fields().asScala.map { t =>
            t.getKey -> (t.getValue.get("rows").asLong, t.getValue.get("checksum").asText)
          }.toMap)
      }.toSeq)
  }
}

/** Derby target tables against the generator's ground truth. */
object FfiCheck {

  /** Same definition as the generator's `row_checksum`: MD5 over the
    * values joined by U+001F (null as \N), first 8 bytes, summed mod 2^64.
    */
  def rowChecksum(values: Seq[String]): Long = {
    val s = values.map(v => if (v == null) "\\N" else v).mkString("\u001f")
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def tableState(conn: Connection, table: String, cols: Seq[String]): (Long, String) = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
      var n = 0L
      var sum = 0L
      while (rs.next()) {
        n += 1
        sum += rowChecksum(cols.indices.map(i => rs.getString(i + 1)))
      }
      (n, java.lang.Long.toUnsignedString(sum))
    } finally st.close()
  }

  /** None when every table matches `expected`, else what differs. */
  def compare(actual: Map[String, (Long, String)], expected: Map[String, (Long, String)]): Option[String] = {
    val bad = expected.toSeq.sortBy(_._1).collect {
      case (t, e) if !actual.get(t).contains(e) => s"$t: expected $e, got ${actual.get(t)}"
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }
}

/** `ffi_export`: every export of a generated batch through
  * `FfiPipeline.runFile` into embedded in-memory Derby, one export per op.
  * Whole batches repeat into a fresh database until the window closes.
  */
final class FfiExport(input: Path, work: Path) extends Workload {
  private val batch = FfiBatch.load(input)
  private val warmup = FfiBatch.load(input.resolve("warmup"))
  private var dbSeq = 0

  private def freshDb(b: FfiBatch): (String, JdbcConstraints) = {
    dbSeq += 1
    val url = s"jdbc:derby:memory:perfbench_ffi_$dbSeq;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      b.ddl.foreach(st.execute)
      (url, JdbcConstraints.reflect(c))
    } finally c.close()
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  /** Each batch gets its own copy of the exports: a clean load archives them. */
  private def copyExports(b: FfiBatch, from: Path, tag: String): Path = {
    val dir = work.resolve(s"ffi_$tag")
    Files.createDirectories(dir)
    b.exports.foreach(e =>
      Files.copy(from.resolve(e.file), dir.resolve(e.file), StandardCopyOption.REPLACE_EXISTING))
    dir
  }

  override def setup(spark: SparkSession): Unit = {
    val (url, cons) = freshDb(warmup)
    val dir = copyExports(warmup, input.resolve("warmup"), "warmup")
    warmup.exports.foreach { e =>
      val r = FfiPipeline.runFile(spark, dir.resolve(e.file), warmup.mapping, cons, url, MergeJdbc.Derby)
      require(r.failedTables.isEmpty, s"warm-up export failed: ${r.tables}")
    }
    dropDb(url)
  }

  private val loadResults = mutable.ArrayBuffer.empty[MergeJdbc.TableResult]

  override def measure(spark: SparkSession, ops: Ops, tracer: Tracer, deadlineNs: Long): Unit =
    do {
      val (url, cons) = freshDb(batch)
      val dir = copyExports(batch, input, s"batch_$dbSeq")
      val conn = DriverManager.getConnection(url)
      batch.exports.foreach { e =>
        val file = dir.resolve(e.file)
        val res = ops.run("export", Map("batch" -> dbSeq, "file" -> e.file, "size" -> e.size,
            "bytes" -> e.bytes, "rows" -> e.rows)) {
          FfiPipeline.runFile(spark, file, batch.mapping, cons, url, MergeJdbc.Derby)
        } { r =>
          if (r.failedTables.nonEmpty) Some(s"tables failed: ${r.tables.filter(_.failed)}")
          else if (r.archived.isEmpty) Some("export not archived")
          else FfiCheck.compare(
            batch.tables.map { case (t, cols) => t -> FfiCheck.tableState(conn, t, cols) }.toMap,
            e.expected)
        }
        if (tracer.enabled) res.foreach(loadResults ++= _.tables)
      }
      conn.close()
      dropDb(url)
    } while (System.nanoTime() < deadlineNs)

  override def finish(spark: SparkSession): Map[String, Any] = Map.empty

  /** Per-export stage times from one `runFile` call, without spans inside
    * it: the pipeline runs its stages in order, so each stage starts with
    * the first job its module submits (the job's call site, see
    * [[Probe.site]]). Extract runs from the call's start to the first
    * transform job, transform from there to the first sinks job, and the
    * load from there to the call's end; a stage's jobs are those that
    * start inside its window. The load window also runs the lazy extract
    * and transform plans the MERGE statements read.
    */
  override def layers(probe: Probe, tracer: Tracer, tracedOps: Ops): Map[String, Double] = {
    val exports = tracer.spans.filter(s => s.parent < 0 && s.name == "export")
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val bySize = mutable.Map.empty[String, Double].withDefaultValue(0.0) // detail line only
    exports.foreach { s =>
      val size = tracedOps.done(s.opId).info("size")
      val js = probe.jobsBetween(s.startMs, s.endMs + 1)
      def firstOf(stage: String) = js.find(j => FfiExport.stageOf(j.site) == stage).map(_.startMs)
      val loadAt = firstOf("load").getOrElse(s.endMs)
      val transformAt = math.min(firstOf("transform").getOrElse(loadAt), loadAt)
      for ((name, from, to) <- Seq(("extract", s.startMs, transformAt),
          ("transform", transformAt, loadAt), ("load", loadAt, s.endMs + 1))) {
        val sec = math.max(0L, math.min(to, s.endMs) - from) / 1e3
        sums(s"${name}_s") += sec
        bySize(s"ffi.$size.${name}_s") += sec
        sums(s"${name}_jobs") += js.count(j => j.startMs >= from && j.startMs < to)
        if (firstOf(name).isDefined) sums(s"${name}_seen") += 1
      }
      bySize(s"ffi.$size.exports") += 1
      js.foreach(j => sums(s"jobs_by_site.${FfiExport.stageOf(j.site)}") += 1)
    }
    val n = math.max(1, exports.size).toDouble
    // a stage none of whose jobs was seen in some export is left out, so
    // the traced run fails rather than reporting an unmeasured stage
    def stageMetrics(layer: String, name: String): Map[String, Double] =
      if (exports.isEmpty || sums(s"${name}_seen") < exports.size) Map.empty
      else Map(s"$layer.${name}_s" -> sums(s"${name}_s") / n, s"$layer.${name}_jobs" -> sums(s"${name}_jobs") / n)
    stageMetrics("etl", "extract") ++ stageMetrics("etl", "transform") ++
      stageMetrics("sinks", "load") ++ Map(
      "sinks.rows_merged" -> loadResults.map(_.inserted).sum.toDouble,
      "sinks.tables_failed" -> loadResults.count(_.failed).toDouble) ++
      sums.collect { case (k, v) if k.startsWith("jobs_by_site.") => s"ffi.$k" -> v / n } ++
      bySize.collect { case (k, v) if !k.endsWith(".exports") =>
        k -> v / bySize(k.substring(0, k.lastIndexOf('.')) + ".exports")
      }
  }
}

object FfiExport {

  /** The pipeline stage an engine call site belongs to; "unnamed" when the
    * job's call site holds no engine frame.
    */
  def stageOf(site: String): String =
    if (site == "graft.etl.FfiExtract") "extract"
    else if (site.startsWith("graft.sinks.")) "load"
    else if (site.startsWith("graft.etl.")) "transform"
    else "unnamed"
}
