package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.VersionedLake
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The benchmark's model of the lake table: key -> (custkey, status, price). */
final class LakeModel {
  val rows = new java.util.TreeMap[java.lang.Long, (Long, String, Double)]()

  def upsert(batch: Seq[(Long, Long, String, Double)]): Unit =
    batch.foreach { case (k, c, s, p) => rows.put(k, (c, s, p)) }
  def update(lo: Long, hi: Long, status: String, price: Double): Unit =
    rows.subMap(lo, true, hi, true).replaceAll((_, v) => (v._1, status, price))
  def delete(lo: Long, hi: Long): Unit = rows.subMap(lo, true, hi, true).clear()

  def range(lo: Long, hi: Long): Map[Long, (Long, String, Double)] =
    rows.subMap(lo, true, hi, true).asScala.map { case (k, v) => k.longValue -> v }.toMap

  /** None when `got` holds exactly `expected`, else the first difference. */
  def compare(got: Seq[Row], expected: Map[Long, (Long, String, Double)]): Option[String] = {
    val byKey = got.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getDouble(3)))
    if (byKey.size != byKey.map(_._1).distinct.size) Some("duplicate keys in result")
    else if (byKey.size != expected.size) Some(s"expected ${expected.size} rows, got ${byKey.size}")
    else byKey.collectFirst {
      case (k, v) if !expected.get(k).contains(v) => s"key $k: expected ${expected.get(k)}, got $v"
    }
  }
}

/** `lake_dml`: one client's closed loop of SQL DML and reads against a
  * `graftcat` table that starts as the generated `orders` in three
  * key-range commits, in whole cycles of the op plan. Every read, and the
  * final table, is compared with [[LakeModel]]; writes are applied to the
  * model only when they succeed. The model starts from the fixture rows,
  * collected during set-up.
  */
final class LakeDml(input: Path, work: Path) extends Workload {
  private val plan = Json.read(input.resolve("lake_ops.json"))
  private val Table = "graftcat.orders_t"
  private var tableDir: Path = _
  private var model: LakeModel = _
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))

  private var nextCycle = 0
  private var files = Map.empty[String, (Long, Long)] // path -> (size, mtime)
  private var bytesWritten = 0L
  private var batchBytes = 0L
  private val commitIo = mutable.ArrayBuffer.empty[(Long, Long)] // traced: bytes, files per commit
  private val readShape = mutable.ArrayBuffer.empty[ReadShape] // traced: one per read

  private def listFiles(): Map[String, (Long, Long)] =
    Files.walk(tableDir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap

  /** Bytes and files that appeared or changed under the table since the
    * last call.
    */
  private def written(): (Long, Long) = {
    val now = listFiles()
    val fresh = now.filter { case (p, v) => !files.get(p).contains(v) }
    files = now
    (fresh.values.map(_._1).sum, fresh.size.toLong)
  }

  /** Parquet files per directory of the current snapshot. */
  private def snapshotFiles(spark: SparkSession): Map[String, Long] = {
    val v = VersionedLake.currentVersion(spark, tableDir.toString).get
    VersionedLake.manifest(spark, tableDir.toString, v).map { d =>
      val p = tableDir.resolve("data").resolve(d)
      d -> (if (!Files.isDirectory(p)) 0L
        else Files.walk(p).iterator().asScala.count(_.toString.endsWith(".parquet")).toLong)
    }.toMap
  }

  /** A traced read: runs it, then asks the lake's scan builder which
    * directories it kept (its `lastKept` observability hook, set on the
    * planning thread, which is this one). Files read are the parquet files
    * of the kept directories; none when the answer came from the manifest
    * (`lastMetaAgg`); the whole snapshot when the read did not plan through
    * the pruning builder (a read-through of pending deletes reads every
    * directory).
    */
  private def tracedRead(spark: SparkSession, ops: Ops, kind: String, lo: Long, hi: Long,
      where: String): Boolean = {
    val snap = snapshotFiles(spark)
    val hook = org.apache.spark.sql.graft.LakePruningScanBuilder
    hook.lastKept.remove()
    hook.lastMetaAgg.remove()
    val ok = ops.run(kind)(readTable(spark, where))(model.compare(_, model.range(lo, hi))).isDefined
    val (how, read) = Option(hook.lastKept.get) match {
      case Some(kept) => ("pruned", kept.map(snap.getOrElse(_, 0L)).sum)
      case None if hook.lastMetaAgg.get != null => ("manifest", 0L)
      case None => ("unpruned", snap.values.sum)
    }
    readShape += ReadShape(snap.size, snap.values.sum, read, how)
    ok
  }

  private def batchRows(op: JsonNode): Seq[(Long, Long, String, Double)] =
    op.get("rows").elements().asScala.map { r =>
      (r.get(0).asLong, r.get(1).asLong, r.get(2).asText, r.get(3).asDouble)
    }.toSeq

  private def readTable(spark: SparkSession, where: String): Seq[Row] =
    spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM $Table WHERE $where")
      .collect().toSeq

  /** Runs one planned op through `ops`; returns whether it succeeded. */
  private def runOp(spark: SparkSession, ops: Ops, tracer: Tracer, op: JsonNode): Boolean = {
    val kind = op.get("kind").asText
    def lo = op.get("lo").asLong
    def hi = op.get("hi").asLong
    val ok = kind match {
      case "merge" | "insert" =>
        val rows = batchRows(op)
        spark.createDataFrame(rows.map { case (k, c, s, p) => Row(k, c, s, p) }.asJava, schema)
          .createOrReplaceTempView("perfbench_batch")
        val sql =
          if (kind == "insert") s"INSERT INTO $Table SELECT * FROM perfbench_batch"
          else s"""MERGE INTO $Table t USING perfbench_batch s ON t.o_orderkey = s.o_orderkey
                  |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin
        val done = ops.run(kind, Map("batch_bytes" -> op.get("batch_bytes").asLong)) {
          spark.sql(sql).collect()
        }(_ => None).isDefined
        if (done) { model.upsert(rows); batchBytes += op.get("batch_bytes").asLong }
        done
      case "update" =>
        val price = op.get("price").asDouble
        val done = ops.run(kind) {
          spark.sql(s"UPDATE $Table SET o_orderstatus = 'U', o_totalprice = $price " +
            s"WHERE o_orderkey >= $lo AND o_orderkey <= $hi").collect()
        }(_ => None).isDefined
        if (done) model.update(lo, hi, "U", price)
        done
      case "delete" =>
        val done = ops.run(kind) {
          spark.sql(s"DELETE FROM $Table WHERE o_orderkey >= $lo AND o_orderkey <= $hi").collect()
        }(_ => None).isDefined
        if (done) model.delete(lo, hi)
        done
      case "optimize" =>
        ops.run(kind)(spark.sql("CALL graftcat.system.optimize('orders_t')").collect())(_ => None)
          .isDefined
      case "point" | "range" =>
        val (a, b) = if (kind == "point") (op.get("key").asLong, op.get("key").asLong) else (lo, hi)
        val where = if (kind == "point") s"o_orderkey = $a" else s"o_orderkey BETWEEN $a AND $b"
        if (tracer.enabled) tracedRead(spark, ops, kind, a, b, where)
        else ops.run(kind)(readTable(spark, where))(model.compare(_, model.range(a, b))).isDefined
    }
    if (Set("merge", "insert", "update", "delete", "optimize")(kind)) {
      val (b, f) = written()
      bytesWritten += b
      if (tracer.enabled) commitIo += ((b, f))
    }
    ok
  }

  override def setup(spark: SparkSession): Unit = {
    val root = work.resolve("lake")
    spark.conf.set("spark.sql.catalog.graftcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.root", root.toString)
    tableDir = root.resolve("orders_t")
    val orders = spark.read.parquet(input.resolve("orders.parquet").toString)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val maxKey = plan.get("max_key").asLong
    val third = maxKey / 3
    for ((a, b) <- Seq((-1L, third), (third, 2 * third), (2 * third, maxKey)))
      VersionedLake.appendCommit(orders.filter(col("o_orderkey") > a && col("o_orderkey") <= b),
        tableDir.toString, statsCols = Seq("o_orderkey"),
        bloom = Some(VersionedLake.BloomConfig(Seq("o_orderkey"))))
    model = new LakeModel
    model.upsert(orders.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))))
    val warm = new Ops(new Tracer(false))
    plan.get("warmup").elements().asScala.foreach(_.elements().asScala.foreach(op =>
      runOp(spark, warm, new Tracer(false), op)))
    require(warm.failed == 0, s"warm-up ops failed: ${warm.done.flatMap(_.error).mkString("; ")}")
    files = listFiles()
    bytesWritten = 0L; batchBytes = 0L
  }

  override def measure(spark: SparkSession, ops: Ops, tracer: Tracer, deadlineNs: Long): Unit = {
    val cycles = plan.get("cycles")
    do {
      require(nextCycle < cycles.size(), "op plan exhausted before the window closed")
      cycles.get(nextCycle).elements().asScala.foreach(op => runOp(spark, ops, tracer, op))
      nextCycle += 1
    } while (System.nanoTime() < deadlineNs)
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val all = readTable(spark, "true")
    val finalError = model.compare(all, model.range(Long.MinValue, Long.MaxValue))
    val plain = work.resolve("lake_live_plain")
    spark.createDataFrame(all.asJava, schema).coalesce(1).write.mode("overwrite").parquet(plain.toString)
    def du(p: Path) = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith(".")).map(Files.size(_)).sum
    Map(
      "final_error" -> finalError.orNull,
      "bytes_written" -> bytesWritten, "batch_bytes" -> batchBytes,
      "table_bytes" -> du(tableDir), "live_plain_bytes" -> du(plain))
  }

  /** Per-commit and per-read lake figures of the traced half. A figure
    * with nothing behind it (no commit, no read, a phase no job ran) is
    * left out, so the traced run fails instead of reporting a zero.
    */
  override def layers(probe: Probe, tracer: Tracer, ops: Ops): Map[String, Double] = {
    val commitKinds = Set("merge", "insert", "update", "delete", "optimize")
    val commitSpans = tracer.spans.filter(s => s.parent < 0 && commitKinds(s.name))
    val commits = probe.work(commitSpans.flatMap(s => tracer.subtree(s)).toSet)
    val nCommits = commitSpans.size.toDouble
    val commitFigures = if (commitSpans.isEmpty) Map.empty[String, Double] else {
      commits.jobSecByDesc.groupBy { case (desc, _) => LakeDml.phase(desc) }
        .map { case (p, g) => s"sources.phase_s.$p" -> g.values.sum / nCommits } ++ Map(
        "sources.commit_jobs" -> commits.jobs / nCommits,
        "sources.commit_driver_s" -> commits.driverSec / nCommits,
        "sources.bytes_written" -> commitIo.map(_._1).sum / nCommits,
        "sources.files_added" -> commitIo.map(_._2).sum / nCommits)
    }
    val nRead = readShape.size.toDouble
    val snapFiles = readShape.map(_.snapshotFiles).sum.toDouble
    val filesRead = readShape.map(_.filesRead).sum.toDouble
    val readFigures = if (readShape.isEmpty) Map.empty[String, Double] else Map(
      "sources.snapshot_dirs" -> readShape.map(_.snapshotDirs).sum / nRead,
      "sources.files_read" -> filesRead / nRead,
      "sources.prune_ratio" -> (1.0 - filesRead / snapFiles)) ++
      // how the traced reads planned (see `tracedRead`); detail line only
      readShape.groupBy(_.how).map { case (h, g) => s"sources.reads_$h" -> g.size.toDouble }
    commitFigures ++ readFigures
  }
}

/** One traced read: the snapshot's directories and parquet files, the files
  * the scan read, and how it planned ("pruned", "manifest", "unpruned").
  */
final case class ReadShape(snapshotDirs: Int, snapshotFiles: Long, filesRead: Long, how: String)

object LakeDml {

  /** The commit phase a job belongs to, from the job description the lake
    * sets around each phase (`VersionedLake.phase`, `inParallel` labels).
    */
  def phase(desc: String): String = {
    val d = desc.toLowerCase
    if (d.contains("key ranges")) "key_ranges"
    else if (d.contains("bloom")) "bloom"
    else if (d.contains("cdc")) "cdc_artifact"
    else if (d.contains("rewrite") && !d.contains("stats")) "rewrite"
    else if (d.contains("probe")) "refusal_probes"
    else if (d.contains("append") || d.contains("stats") || d.contains("write batch")) "append_stats"
    else "other"
  }
}
