package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven by [[Main]]:
  *   1. `setup` builds fixtures and runs warm-up ops, untimed per op but
  *      timed as a whole (with session start) as the set-up time;
  *   2. `measure` runs whole units of work (a batch, a cycle, a pass) until
  *      the deadline has passed, so every unit sample is whole;
  *   3. `finish` checks the final state and returns the workload's own
  *      end-to-end counters;
  *   4. `layers` (traced run only) turns the probe's counts into per-layer
  *      metrics.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, ops: Ops, tracer: Tracer, deadlineNs: Long): Unit
  def finish(spark: SparkSession): Map[String, Any]
  def layers(probe: Probe, tracer: Tracer, ops: Ops): Map[String, Double]
}

/** The benchmark's JVM. `perfbench/run.py` generates the inputs,
  * starts this main, and turns the raw record it writes into metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  *
  * Traced runs split the measuring window: the first half runs untraced,
  * the second half with spans and Spark listeners on, and the record
  * carries both halves so the tracing overhead is their difference.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path): SparkSession = {
    val s = graft.engine.Session.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputArg, workArg, secondsArg, traceArg, outArg) = args
    val input = Paths.get(inputArg).toAbsolutePath
    val work = Paths.get(workArg).toAbsolutePath
    Files.createDirectories(work)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val workload: Workload = name match {
      case "ffi_export" => new FfiExport(input, work)
      case "lake_dml" => new LakeDml(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = mutable.LinkedHashMap[String, Any]("workload" -> name, "cores" -> Cores)

    // Set-up: session start, fixtures and warm-up ops. One round: a round
    // runs every op shape cold (JIT, codegen), which is most of a run's cost.
    val t0Setup = System.nanoTime()
    val spark = session(work)
    val sessionSec = (System.nanoTime() - t0Setup) / 1e9
    workload.setup(spark)
    record("setup_s") = (System.nanoTime() - t0Setup) / 1e9
    record("session_start_s") = sessionSec

    val untracedTracer = new Tracer(false)
    val ops = new Ops(untracedTracer)
    val t0 = System.nanoTime()
    if (!traced) {
      workload.measure(spark, ops, untracedTracer, t0 + (seconds * 1e9).toLong)
    } else {
      val half = (seconds * 1e9 / 2).toLong
      workload.measure(spark, ops, untracedTracer, t0 + half)
      val tracer = new Tracer(true)
      val tracedOps = new Ops(tracer)
      val probe = new Probe(spark, tracer)
      probe.start()
      workload.measure(spark, tracedOps, tracer, System.nanoTime() + half)
      System.gc() // at least one post-GC heap reading per traced run
      probe.stop()
      val compileMs = probe.codegenCompileMs
      val maxMethod = probe.codegenMaxMethodBytes
      val (ruleMs, ruleEffective) = probe.graftRules
      val untracedSec = ops.done.flatMap(_.sec).sum / math.max(1, ops.done.count(_.sec.isDefined))
      val tracedSec = tracedOps.done.flatMap(_.sec).sum / math.max(1, tracedOps.done.count(_.sec.isDefined))
      val perOp = math.max(1, tracedOps.done.size).toDouble
      val opWork = probe.work(tracer.spans.map(_.id).toSet)
      record("layers") = opCounters("queries", opWork).map { case (k, v) => k -> v / perOp } ++
        workload.layers(probe, tracer, tracedOps) ++ Map(
        "plans.planning_ms" -> opWork.planningMs / perOp,
        "engine.session_start_s" -> sessionSec,
        "engine.heap_after_gc_peak_mb" -> probe.heapAfterGcPeakBytes / 1048576.0,
        "functions.codegen_compile_ms" -> compileMs / perOp,
        "functions.codegen_max_method_bytes" -> maxMethod.toDouble,
        "plans.graft_rule_ms" -> ruleMs / perOp,
        "plans.graft_rule_effective" -> ruleEffective,
        "trace.overhead_s" -> (tracedSec - untracedSec))
      record("traced_ops") = tracedOps.done.map(opJson).toSeq
      writeSpans(tracer, work.resolve("spans.jsonl"))
      record("spans_file") = work.resolve("spans.jsonl").toString
    }
    record("ops") = ops.done.map(opJson).toSeq
    record("final") = workload.finish(spark)
    spark.stop()
    Json.write(Paths.get(outArg), record)
  }

  /** Spark work of one group of ops, under `prefix`. */
  def opCounters(prefix: String, w: Probe#Work): Map[String, Double] = Map(
    s"$prefix.jobs" -> w.jobs.toDouble, s"$prefix.stages" -> w.stages.toDouble,
    s"$prefix.tasks" -> w.tasks.toDouble, s"$prefix.job_busy_s" -> w.jobBusySec,
    s"$prefix.driver_s" -> w.driverSec, s"$prefix.task_s" -> w.taskSec,
    s"$prefix.gc_ms" -> w.gcMs.toDouble, s"$prefix.shuffle_mb" -> w.shuffleMb,
    s"$prefix.spill_mb" -> w.spillMb)

  private def opJson(o: Op): Map[String, Any] =
    Map("id" -> o.id, "kind" -> o.kind, "sec" -> o.sec.getOrElse(null), "error" -> o.error.orNull) ++ o.info

  private def writeSpans(tracer: Tracer, file: Path): Unit = {
    val lines = tracer.spans.map { s =>
      Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.opId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "sec" -> s.sec))
    }
    Files.write(file, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON for the benchmark's record (Jackson from the Spark classpath). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))
  def write(file: Path, v: Any): Unit = Files.write(file, render(v).getBytes("UTF-8"))
  def read(file: Path): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(file.toFile)
}
