package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.{Pipeline, SparkConfigs, SparkEntry}

/** The benchmark's JVM side: set-up, the timed closed loop, the output
  * check, and the metrics. `perfbench/run.py` builds the classpath and
  * launches it; see perfbench/README.md for the workloads and metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --expected DIR --work DIR --cores N
  * or, to print the expected values of the current code:
  *       --record queries|retail_daily --data DIR --work DIR --cores N
  */
object Main {

  /** Catalog keys per `query_mix` run, one per cost stratum. */
  val QueryStrata = 8

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val work = new File(args("work"))
    val cores = args("cores").toInt
    args.get("record") match {
      case Some(what) => record(what, data, work, cores)
      case None => run(args, data, work, cores)
    }
    System.exit(0)
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkConfigs.local(SparkSession.builder(), cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toVector
    finally src.close()
  }

  private def run(args: Map[String, String], data: String, work: File, cores: Int): Unit = {
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val expected = args("expected")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up, from JVM start to the first timed op: the session, then the
    // workload's untimed warm-up
    val spark = session(work, cores)
    spark.range(1).count()
    val sessionS = (Clock.nowMs - jvmStart) / 1e3
    val workload: Workload = name match {
      case "retail_daily" =>
        new RetailDaily(data, work, seed,
          readTsv(s"$expected/retail_daily.tsv").map(a => a(0) -> a(1)).toMap)
      case "query_mix" =>
        new QueryMix(data, seed,
          readTsv(s"$expected/queries.tsv").map(a => (a(0), a(1), a(2).toDouble)),
          QueryStrata)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warmErrors = workload.warmUp(spark)
    val setupS = (Clock.nowMs - jvmStart) / 1e3

    // timed phase: ops until `seconds` of op time have passed; a traced run
    // alternates untraced and traced passes and needs three: untraced,
    // traced, untraced
    val rec = new SpanRecorder(spark.sparkContext)
    val tracer = new JobTracer
    // (input, wall seconds, traced) and CPU seconds of every op
    val lat = ArrayBuffer[(String, Double, Boolean)]()
    val cpu = ArrayBuffer[Double]()
    val opTraces = ArrayBuffer[OpTrace]()
    val opErrors = ArrayBuffer[(Int, String, String)]()
    val jit0 = Cpu.jitNs
    var opTime = 0.0
    var i = 0
    def passOf(n: Int) = n / workload.passLength
    def more = opTime < seconds * 1e3 ||
      (traced && (passOf(i) < 3 || i % workload.passLength != 0))
    while (more) {
      val input = workload.inputOf(i)
      val withTrace = traced && passOf(i) % 2 == 1
      rec.enabled = withTrace
      rec.op = i
      if (withTrace) tracer.attach(spark)
      val c0 = Cpu.workNs
      val t0 = Clock.nowMs
      val err = try { rec("op")(workload.op(spark, i, rec)); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t1 = Clock.nowMs
      val c1 = Cpu.workNs
      if (withTrace) {
        val (jobs, planMs, writes) = tracer.detach(spark)
        opTraces += OpTrace(i, t1 - t0, rec.spans.filter(_.op == i).toSeq, jobs, planMs, writes)
      }
      rec.enabled = false
      opTime += t1 - t0
      lat += ((input, (t1 - t0) / 1e3, withTrace))
      cpu += (c1 - c0) / 1e9
      err.orElse(workload.verify(spark, i)).foreach(e => opErrors += ((i, input, e)))
      i += 1
    }
    val timedJitS = (Cpu.jitNs - jit0) / 1e9
    val finalErrors = workload.finalCheck(spark)
    val failedOps = lat.indices.count(n => opErrors.exists(_._1 == n) ||
      warmErrors.contains(lat(n)._1) || finalErrors.contains(lat(n)._1))
    warmErrors.foreach { case (k, e) => System.err.println(s"[perfbench] warm-up $k: $e") }
    finalErrors.foreach { case (k, e) => System.err.println(s"[perfbench] after the timed ops, $k: $e") }
    opErrors.foreach { case (n, k, e) => System.err.println(s"[perfbench] op $n ($k): $e") }

    // each input (catalog key; tick) weighs the same, whatever its share of
    // a partly run last pass: the median over inputs of each one's median,
    // and the mean over inputs of each one's mean, of the ops' CPU time and,
    // for reading, of their wall time
    val untraced = lat.indices.filterNot(lat(_)._3)
    def perInput(xs: Int => Double) =
      untraced.groupBy(lat(_)._1).values.map(_.map(xs)).toSeq
    def p50(xs: Int => Double) = Stats.median(perInput(xs).map(Stats.median))
    def mean(xs: Int => Double) = perInput(xs).map(v => v.sum / v.length).sum / perInput(xs).length
    val e2e = Seq(
      "op_cpu_p50_s" -> (p50(cpu), "s"),
      "op_cpu_mean_s" -> (mean(cpu), "s"),
      "setup_s" -> (setupS, "s"))
    val metrics =
      if (!traced) e2e
      else Layers.metrics(opTraces.toSeq, lat.toSeq, workload.passLength, cores,
        Workload.bytesUnder(new File(data)).toDouble,
        workload.runMetrics + ("jvm.peak_rss_mb" -> peakRssMb))

    val config = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "master" -> spark.sparkContext.master, "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "data" -> data, "session_s" -> sessionS, "warmup_s" -> (setupS - sessionS),
      "op_inputs" -> lat.map(_._1).toSeq, "op_latencies_s" -> lat.map(_._2).toSeq,
      "op_cpu_s" -> cpu.toSeq, "timed_jit_cpu_s" -> timedJitS,
      "latency_p50_s" -> p50(lat(_)._2), "latency_mean_s" -> mean(lat(_)._2),
      "latency_tail" -> Stats.tail(lat.filterNot(_._3).map(_._2).toSeq)
        .map { case (p, v) => Json.Raw(Json.obj(Seq("percentile" -> p, "s" -> v))) }
        .getOrElse(Json.Raw("null"))))
    println(s"perfbench-config $config")
    if (traced) {
      val spans = opTraces.flatMap(t => t.spans ++ t.jobs.map(j =>
        Span(-j.id.toLong, s"job ${j.id}", j.start, j.end, j.parentSpan, t.op, j.module)))
      Files.writeString(Paths.get(work.getPath, "spans.jsonl"),
        spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "op" -> s.op, "module" -> s.module)))
          .mkString("", "\n", "\n"))
    }
    println(Json.obj(Seq(
      "correct" -> (opErrors.isEmpty && warmErrors.isEmpty && finalErrors.isEmpty),
      "attempted" -> lat.length, "failed" -> failedOps,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))))
    spark.stop()
  }

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Prints `REC` lines: the current code's expected values. */
  private def record(what: String, data: String, work: File, cores: Int): Unit = {
    val spark = session(work, cores)
    what match {
      case "queries" =>
        SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
          val line = try {
            val digest = Digest.of(SparkEntry.queries(k)(spark, data), ordered = true)
            Workload.noop(SparkEntry.queries(k)(spark, data))
            val t0 = Clock.nowMs
            Workload.noop(SparkEntry.queries(k)(spark, data))
            f"$digest\t${(Clock.nowMs - t0) / 1e3}%.3f"
          } catch { case NonFatal(e) => s"ERROR\t${e.getClass.getSimpleName}" }
          println(s"REC\t$k\t$line")
        }
      case "retail_daily" =>
        val r = Pipeline.run(spark, data, new File(work, "lake").getPath)
        println(s"REC\tdq_passed\t${r.dqPassed}")
        r.goldTables.toSeq.sorted.foreach { case (n, p) =>
          println(s"REC\tgold.$n\t${Digest.of(spark.read.parquet(p), ordered = false)}") }
        r.analytics.toSeq.sortBy(_._1).foreach { case (n, df) =>
          println(s"REC\tanalytics.$n\t${Digest.of(df, ordered = true)}") }
    }
    spark.stop()
  }
}

/** What one traced op did: its wall time, benchmark spans, Spark jobs,
  * planning time and write-command metrics (module, files, bytes). */
final case class OpTrace(op: Int, wallMs: Double, spans: Seq[Span], jobs: Seq[JobRec],
    planMs: Double, writes: Seq[(String, Long, Long)])

/** A minimal JSON writer for the result line and artifacts. */
object Json {
  final case class Raw(s: String)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
