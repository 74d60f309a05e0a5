package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts from Spark's public listener and metrics hooks, for the traced
  * run only. No span or counter sits inside the engine: jobs, stages, tasks
  * and planning phases are attributed to the benchmark's own spans by
  * wall-clock time (one client thread, so spans nest), and each job carries
  * the engine module that submitted it, from its stages' call sites.
  */
final class Probe(spark: SparkSession, tracer: Tracer) {

  /** `site` is the engine class whose code submitted the job (see [[Probe.site]]). */
  final case class Job(startMs: Long, desc: String, stageIds: Seq[Int], site: String) {
    @volatile var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  final case class Qe(startMs: Long, planningMs: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val generated = ConcurrentHashMap.newKeySet[CodeAndComment]() // distinct by body

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      // the final stage first: its call site is the job's own submission
      val site = e.stageInfos.sortBy(-_.stageId).iterator.map(st => Probe.site(st.details))
        .find(_.nonEmpty).getOrElse("")
      jobs.put(e.jobId, Job(e.time, desc, e.stageIds, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        qes.add(Qe(phases.map(_.startTimeMs).min, phases.map(p => p.endTimeMs - p.startTimeMs).sum))
      generated.addAll(Probe.wholeStageCode(qe.executedPlan).asJava)
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  @volatile var heapAfterGcPeakBytes = 0L
  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > heapAfterGcPeakBytes) heapAfterGcPeakBytes = used
      }
  }
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }

  private var compileNsAtStart = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gcBeans.foreach(_.addNotificationListener(gcListener, null, null))
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    compileNsAtStart = CodeGenerator.compileTime
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    gcBeans.foreach(b => scala.util.Try(b.removeNotificationListener(gcListener)))
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(200) }

  /** Milliseconds the code generator spent compiling since `start`, from its
    * JVM-wide running total (`CodeGenerator.compileTime`): summed over every
    * thread that compiles, so tasks compiling in parallel can make it exceed
    * wall time. The client is the only thread running queries.
    */
  def codegenCompileMs: Double = (CodeGenerator.compileTime - compileNsAtStart) / 1e6

  /** Largest generated method (bytecode bytes) of the whole-stage codegen
    * stages of every query that ran while the probe was on, as EXPLAIN
    * CODEGEN computes it: the stage's code is looked up in the compiled-class
    * cache, and compiled again if it was evicted. Call after `stop` and after
    * reading `codegenCompileMs`, which such a compile would grow.
    */
  def codegenMaxMethodBytes: Long =
    generated.asScala.flatMap(c => Try(CodeGenerator.compile(c)._2.maxMethodCodeSize).toOption)
      .foldLeft(0L)((m, b) => math.max(m, b.toLong))

  /** Time (ms) and effective-run ratio of the engine's own Catalyst rules
    * (classes under `graft.`), from the rule executor's metering.
    */
  def graftRules: (Double, Double) = {
    val Row = """\s*(graft\.\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*""".r
    val rows = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.collect { case Row(_, _, totalNs, eff, runs) =>
        (totalNs.toLong, eff.toLong, runs.toLong)
      }.toSeq
    val runs = rows.map(_._3).sum
    (rows.map(_._1).sum / 1e6, if (runs == 0) 0.0 else rows.map(_._2).sum.toDouble / runs)
  }

  /** Work attributed to the spans `ids` (each job to the innermost span open
    * when it started).
    */
  final case class Work(sec: Double, jobs: Int, stages: Int, tasks: Long, jobBusySec: Double,
      taskSec: Double, gcMs: Long, shuffleMb: Double, spillMb: Double, planningMs: Long,
      jobSecByDesc: Map[String, Double]) {
    def driverSec: Double = math.max(0.0, sec - jobBusySec)
  }

  def work(ids: Set[Int]): Work = {
    drain()
    val spans = tracer.spans.filter(s => ids(s.id))
    val topLevel = spans.filter(s => !ids(s.parent))
    def owner(ms: Long): Boolean = tracer.spanAt(ms).exists(s => ids(s.id))
    val js = jobs.values.asScala.toSeq.filter(j => owner(j.startMs))
    val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    val busy = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))) / 1e3
    val q = qes.asScala.toSeq.filter(x => owner(x.startMs))
    val byDesc = js.groupBy(_.desc).map { case (d, g) =>
      d -> g.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    }
    Work(topLevel.map(_.sec).sum, js.size, js.map(_.stageIds.size).sum, st.map(_.tasks).sum,
      busy, st.map(_.runMs).sum / 1e3, st.map(_.gcMs).sum,
      st.map(_.shuffleBytes).sum / 1048576.0, st.map(_.spillBytes).sum / 1048576.0,
      q.map(_.planningMs).sum, byDesc)
  }

  /** Jobs that started at or after `fromMs` and before `toMs`, by start time. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] = {
    drain()
    jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs < toMs).sortBy(_.startMs)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Probe {

  /** The generated code of a plan's whole-stage codegen stages, generated
    * again from the executed plan.
    */
  def wholeStageCode(plan: SparkPlan): Seq[CodeAndComment] = {
    val stages = mutable.ArrayBuffer.empty[WholeStageCodegenExec]
    def walk(p: SparkPlan): Unit = p.foreach {
      case w: WholeStageCodegenExec => stages += w
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.subqueries.foreach(walk)
    }
    walk(plan)
    stages.flatMap(w => Try(w.doCodeGen()._2).toOption).toSeq
  }

  /** The engine class (under `graft.`) nearest the job submission in a
    * stage's call-site stack, such as `graft.etl.FfiExtract`, or "" when no
    * engine frame is on it (a job submitted from a pool thread).
    */
  def site(details: String): String =
    details.linesIterator.map { line =>
      val method = line.trim.takeWhile(_ != '(') // [loader/module/]class.method
      method.substring(method.lastIndexOf('/') + 1)
    }.find(_.startsWith("graft.")).fold("") { m =>
      m.substring(0, m.lastIndexOf('.')).takeWhile(_ != '$')
    }
}
