package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("an op that throws is counted as failed and never becomes a timing sample") {
    val ops = new Ops(new Tracer(false))
    assert(ops.run("ok")(1)(_ => None).contains(1))
    assert(ops.run[Int]("boom")(throw new IllegalStateException("boom"))(_ => None).isEmpty)
    assert(ops.attempted === 2)
    assert(ops.failed === 1)
    assert(ops.done(0).sec.isDefined)
    assert(ops.done(1).sec.isEmpty)
    assert(ops.done(1).error.exists(_.contains("boom")))
  }

  test("an op whose answer fails its check is failed and not timed") {
    val ops = new Ops(new Tracer(false))
    assert(ops.run("wrong")(41)(v => if (v == 42) None else Some(s"got $v")).isEmpty)
    assert(ops.done.head.sec.isEmpty && ops.done.head.error.contains("got 41"))
  }

  test("traced ops record nested spans with their op id") {
    val tracer = new Tracer(true)
    val ops = new Ops(tracer)
    ops.run("outer")(tracer.span("inner")(7))(_ => None)
    assert(tracer.spans.map(s => (s.name, s.parent, s.opId)) === Seq(("outer", -1, 0), ("inner", 0, 0)))
    assert(tracer.subtree(tracer.spans.head) === Set(0, 1))
  }

  test("FFI row checksum matches the generator's definition") {
    // gen_ffi.row_checksum(["PLOT1", None, "Big Park"]) in the Python generator
    assert(FfiCheck.rowChecksum(Seq("PLOT1", null, "Big Park")) === 2122482473690618810L)
  }

  test("the FFI checker fails when one expected value is corrupted") {
    val actual = Map("PLOT" -> (2L, "15357504906705387419"), "EVENT" -> (5L, "7"))
    assert(FfiCheck.compare(actual, actual).isEmpty)
    assert(FfiCheck.compare(actual, actual.updated("PLOT", (3L, "15357504906705387419"))).isDefined)
    assert(FfiCheck.compare(actual, actual.updated("EVENT", (5L, "8"))).isDefined)
  }

  test("the lake model checker fails when one expected value is corrupted") {
    val model = new LakeModel
    model.upsert(Seq((1L, 10L, "O", 5.5), (2L, 20L, "F", 6.5), (3L, 30L, "P", 7.5)))
    model.update(2L, 3L, "U", 1.25)
    model.delete(3L, 3L)
    val got = Seq(Row(1L, 10L, "O", 5.5), Row(2L, 20L, "U", 1.25))
    val expected = model.range(Long.MinValue, Long.MaxValue)
    assert(model.compare(got, expected).isEmpty)
    assert(model.compare(got, expected.updated(2L, (20L, "U", 1.5))).isDefined)
    assert(model.compare(got, expected - 1L).isDefined)
    assert(model.compare(got :+ Row(2L, 20L, "U", 1.25), expected).isDefined)
  }

  test("a job's call site names the engine class and pipeline stage that submitted it") {
    val details = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3550)",
      "graft.etl.FfiTransform$.$anonfun$apply$3(FfiTransform.scala:88)",
      "graft.etl.FfiPipeline$.outputFrames(FfiPipeline.scala:38)",
      "perfbench.FfiExport.measure(FfiExport.scala:130)").mkString("\n")
    assert(Probe.site(details) === "graft.etl.FfiTransform")
    assert(Probe.site("app//graft.sinks.MergeJdbc$Loader.run(MergeJdbc.scala:1)") === "graft.sinks.MergeJdbc")
    assert(Probe.site("java.lang.Thread.run(Thread.java:840)") === "")
    assert(FfiExport.stageOf("graft.etl.FfiExtract") === "extract")
    assert(FfiExport.stageOf("graft.etl.FfiTransform") === "transform")
    assert(FfiExport.stageOf("graft.etl.FfiIdents") === "transform")
    assert(FfiExport.stageOf("graft.sinks.MergeJdbc") === "load")
    assert(FfiExport.stageOf("") === "unnamed")
  }

  test("lake job descriptions map to commit phases") {
    assert(LakeDml.phase("upsert: key ranges") === "key_ranges")
    assert(LakeDml.phase("merge: dup probe") === "refusal_probes")
    assert(LakeDml.phase("upsert: probe+rewrite") === "rewrite")
    assert(LakeDml.phase("upsert: append+stats") === "append_stats")
    assert(LakeDml.phase("upsert: rewrite stats") === "append_stats")
    assert(LakeDml.phase("append: batch bloom") === "bloom")
    assert(LakeDml.phase("upsert: cdc artifact") === "cdc_artifact")
    assert(LakeDml.phase("") === "other")
  }
}
