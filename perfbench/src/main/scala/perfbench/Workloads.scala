package perfbench

import java.io.File
import java.time.LocalDate
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Pipeline, SparkEntry}

/** One closed-loop workload: a single client runs op after op, each
  * starting when the previous one has returned. */
trait Workload {
  /** The op's input, used to weight inputs equally in the mean. */
  def inputOf(i: Int): String
  /** Untimed pass that fills codegen, JIT and ArtifactCache, checking
    * what it computes. Errors by input. */
  def warmUp(spark: SparkSession): Map[String, String]
  /** One timed op; throws on failure. */
  def op(spark: SparkSession, i: Int, rec: SpanRecorder): Unit
  /** Check op i's output, untimed. An error message, or None. */
  def verify(spark: SparkSession, i: Int): Option[String]
  /** Untimed check after the timed phase, of what the timed ops computed
    * when it cannot be checked op by op. Errors by input. */
  def finalCheck(spark: SparkSession): Map[String, String]
  /** Ops per pass over the workload's inputs (1 if every op is new). */
  def passLength: Int
  /** Per-run layer values that are not per op. */
  def runMetrics: Map[String, Double]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** `retail_daily`: one daily tick of the retail medallion DAG per op, into
  * one lake kept across the run, then the four analytics results
  * materialised. The seed picks the start date. Every timed tick lands a
  * new date; the re-run of a landed date (the retry path) is exercised,
  * and checked, in the warm-up only. */
final class RetailDaily(src: String, work: File, seed: Long,
    expected: Map[String, String]) extends Workload {
  private val lake = new File(work, "lake")
  private val start = LocalDate.of(2026, 1, 1).plusDays(new Random(seed).nextInt(365).toLong)
  private var last: Option[Pipeline.RunResult] = None

  private def dateOf(i: Int): String = Pipeline.loadDateTag(start.plusDays(i.toLong))

  /** Every tick is its own input. */
  def inputOf(i: Int): String = s"tick $i ${dateOf(i)}"
  def passLength: Int = 1

  private def tick(spark: SparkSession, lakeDir: File, date: String,
      rec: SpanRecorder): Pipeline.RunResult = {
    val r = rec("dag.run")(Pipeline.run(spark, src, lakeDir.getPath, date))
    rec("dag.analytics")(r.analytics.toSeq.sortBy(_._1).foreach(a => Workload.noop(a._2)))
    r
  }

  /** Two ticks into a lake of their own, the second a re-run of the
    * first (one tick leaves the JIT still warming). The re-run must
    * publish the same state and leave the one date's partition. */
  def warmUp(spark: SparkSession): Map[String, String] = {
    val warmLake = new File(work, "warm_lake")
    val date = Pipeline.loadDateTag(start.minusDays(1))
    val off = new SpanRecorder(spark.sparkContext)
    val errs = (1 to 2).flatMap(_ => check(spark, tick(spark, warmLake, date, off))) ++
      Some(Pipeline.loadedDates(spark, warmLake.getPath)).filter(_ != Set(date))
        .map(p => s"silver partitions after a re-run ${p.toSeq.sorted} != $date")
    Workload.deleteTree(warmLake)
    errs.headOption.map(date -> _).toMap
  }

  def op(spark: SparkSession, i: Int, rec: SpanRecorder): Unit = {
    last = None
    last = Some(tick(spark, lake, dateOf(i), rec))
  }

  /** The tick's published state: the DQ verdict, every gold table as read
    * back from the lake, and the four analytics results. */
  private def check(spark: SparkSession, r: Pipeline.RunResult): Option[String] = {
    val got = Seq("dq_passed" -> r.dqPassed.toString) ++
      r.goldTables.toSeq.map { case (n, p) =>
        s"gold.$n" -> Digest.of(spark.read.parquet(p), ordered = false) } ++
      r.analytics.toSeq.map { case (n, df) =>
        s"analytics.$n" -> Digest.of(df, ordered = true) }
    val bad = got.sortBy(_._1).filter { case (k, v) => !expected.get(k).contains(v) }
    if (bad.isEmpty && got.length == expected.size) None
    else Some(bad.map { case (k, v) => s"$k=$v (expected ${expected.getOrElse(k, "none")})" }
      .mkString("; "))
  }

  def verify(spark: SparkSession, i: Int): Option[String] = {
    val published = last.map(check(spark, _)).getOrElse(Some("no result"))
    val partitions = Pipeline.loadedDates(spark, lake.getPath)
    val want = (0 to i).map(dateOf).toSet
    published.orElse(
      if (partitions == want) None
      else Some(s"silver partitions ${partitions.toSeq.sorted} != ${want.toSeq.sorted}"))
  }

  def finalCheck(spark: SparkSession): Map[String, String] = Map.empty

  def runMetrics: Map[String, Double] = {
    val srcBytes = Workload.bytesUnder(new File(src)).toDouble
    Map("dag.lake_bytes_per_src_byte" -> Workload.bytesUnder(lake) / srcBytes)
  }
}

/** `query_mix`: one `SparkEntry.queries` key per op, built and written
  * through the noop sink as graft.Bench does. The keys are the catalog's
  * cost strata: sorted by the warm time recorded with each key's expected
  * digest, the key at each of `strata` evenly spaced quantiles. The seed
  * orders them. A seed-drawn sample of the strata was tried and dropped:
  * which keys a run holds moved its median by a fifth between seeds. */
final class QueryMix(src: String, seed: Long, pool: Seq[(String, String, Double)],
    strata: Int) extends Workload {
  private val digests = pool.map(p => p._1 -> p._2).toMap
  val sample: IndexedSeq[String] = {
    val byCost = pool.sortBy(p => (p._3, p._1)).map(_._1).toIndexedSeq
    new Random(seed).shuffle((0 until strata).map(s =>
      byCost(((s + 0.5) * byCost.length / strata).toInt)))
  }

  def inputOf(i: Int): String = sample(i % sample.length)
  def passLength: Int = sample.length

  /** Each key's output collected and compared with its recorded digest. */
  private def checkAll(spark: SparkSession): Map[String, String] =
    sample.flatMap { k =>
      val got = try Digest.of(SparkEntry.queries(k)(spark, src), ordered = true)
        catch { case NonFatal(e) => s"threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      if (got == digests(k)) None else Some(k -> s"digest $got, expected ${digests(k)}")
    }.toMap

  /** Each key's first call, on a cold `ArtifactCache`, is checked; then
    * each key is written through the noop sink once, the timed ops' path,
    * which the check's collect leaves cold. */
  def warmUp(spark: SparkSession): Map[String, String] = {
    val checked = checkAll(spark)
    val thrown = sample.flatMap { k =>
      try { Workload.noop(SparkEntry.queries(k)(spark, src)); None }
      catch { case NonFatal(e) => Some(k -> s"noop write threw ${e.getClass.getSimpleName}") }
    }.toMap
    thrown ++ checked
  }

  def op(spark: SparkSession, i: Int, rec: SpanRecorder): Unit = {
    val df = rec("construct")(SparkEntry.queries(inputOf(i))(spark, src))
    rec("execute")(Workload.noop(df))
  }

  /** The timed ops write through the noop sink, which leaves nothing to
    * compare: each key is collected once more after them, on the cache
    * they warmed, and a mismatch fails every timed op of the key. */
  def verify(spark: SparkSession, i: Int): Option[String] = None
  def finalCheck(spark: SparkSession): Map[String, String] = checkAll(spark)

  def runMetrics: Map[String, Double] = Map.empty
}
