package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90.0 -> 90.0))
    // 99 samples leave only 9 beyond p90's rank (90): fall back to p75
    assert(Stats.tail((1 to 99).map(_.toDouble)).map(_._1) == Some(75.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(50.0 -> 10.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some(99.0 -> 990.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children, clipped to the span") {
    val parent = Span(1, "execute", 100, 200, 0, 0)
    val kids = Seq(
      Span(2, "job", 110, 150, 1, 0),
      Span(3, "job", 140, 160, 1, 0),  // overlaps the first: 110..160 counts once
      Span(4, "job", 190, 230, 1, 0),  // runs past the parent: only 190..200 counts
      Span(5, "job", 170, 170, 1, 0))  // empty
    assert(Spans.unionLength(kids.map(k => (k.start, k.end))) == 90.0)
    assert(Spans.selfTime(parent, kids) == 100.0 - 50.0 - 10.0)
    assert(Spans.selfTime(parent, Nil) == 100.0)
  }

  test("a job belongs to the module of its first graft frame; none is unattributed") {
    val sparkFrames = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1499)\n"
    def site(frames: String*) = sparkFrames + frames.mkString("\n")
    val fixtures = Seq(
      site("graft.sources.Tables$.table(Tables.scala:18)",
        "graft.operators.Gold$.sales(Gold.scala:40)") -> "sources",
      site("graft.operators.Graph$.$anonfun$pagerank$1(Graph.scala:210)",
        "scala.collection.immutable.Range.foreach(Range.scala:190)",
        "perfbench.QueryMix.op(Workloads.scala:170)") -> "operators",
      site("graft.sinks.ParquetSink$.writeGold(ParquetSink.scala:52)",
        "graft.Pipeline$.run(Pipeline.scala:103)") -> "sinks",
      site("graft.Pipeline$.silverTable$1(Pipeline.scala:75)") -> "dag",
      site("graft.TrainingDataPipeline$.run(TrainingDataPipeline.scala:149)") -> "dag",
      site("graft.functions.Registration$.ensure(Registration.scala:12)") -> "functions",
      site("graft.SparkEntry$.entry(SparkEntry.scala:13)") -> "graft",
      site("perfbench.Workload$.noop(Workloads.scala:35)",
        "perfbench.QueryMix.op(Workloads.scala:171)") -> "engine",
      site("java.lang.Thread.run(Thread.java:840)") -> Attribution.Unattributed,
      "" -> Attribution.Unattributed)
    fixtures.foreach { case (callSite, module) =>
      assert(Attribution.module(callSite) == module, callSite)
    }
  }

  test("the program's CPU time counts this thread's work and leaves out the JIT's") {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val w0 = Cpu.workNs
    val j0 = Cpu.jitNs
    val t0 = threads.getCurrentThreadCpuTime
    var x = 0L
    while (threads.getCurrentThreadCpuTime - t0 < 400000000L) x += 1
    assert(x > 0)
    // the kernel brings a running thread's count up to date at scheduler
    // ticks (4 ms at 250 Hz), so each reading can lag by that much
    assert(Cpu.workNs - w0 >= 400000000L - 20000000L)
    assert(Cpu.jitNs >= j0)
  }

  test("the digest changes when one cell changes, and with row order only when ordered") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("x", DoubleType), StructField("tags", ArrayType(StringType))))
    val rows = Seq(Row(1L, "a", 0.1, Seq("p")), Row(2L, "b", 0.2, Seq("q", "r")),
      Row(3L, null, 0.30000000000000004, Seq.empty[String]))
    val base = Digest.of(schema, rows, ordered = true)
    assert(Digest.of(schema, rows, ordered = true) == base)
    val oneCell = rows.updated(2, Row(3L, null, 0.3, Seq.empty[String]))
    assert(Digest.of(schema, oneCell, ordered = true) != base)
    assert(Digest.of(schema, rows.updated(1, Row(2L, "b", 0.2, Seq("q", "s"))), ordered = true) != base)
    assert(Digest.of(schema, rows.updated(0, Row(1L, "", 0.1, Seq("p"))), ordered = true) !=
      Digest.of(schema, rows.updated(0, Row(1L, null, 0.1, Seq("p"))), ordered = true))
    assert(Digest.of(schema, rows.reverse, ordered = true) != base)
    assert(Digest.of(schema, rows.reverse, ordered = false) == Digest.of(schema, rows, ordered = false))
    assert(Digest.of(schema, oneCell, ordered = false) != Digest.of(schema, rows, ordered = false))
  }
}
