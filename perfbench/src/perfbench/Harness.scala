package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` builds the classes,
  * launches this main once per run and turns the JSON it writes into the
  * result line.
  *
  *   perfbench.Harness --workload W --seed N --trace 0|1 --work DIR
  *                     --cpus N --out FILE [--size full|tiny] [--corrupt 0|1]
  *
  * Everything the run creates lives under --work: inputs, outputs,
  * checkpoints, state roots and Spark's scratch space. */
object Harness {

  final case class Args(
      workload: String, seed: Long, trace: Boolean,
      work: String, cpus: Int, out: String, tiny: Boolean, corrupt: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("trace") == "1", need("work"),
      need("cpus").toInt, need("out"), m.getOrElse("size", "full") == "tiny",
      m.getOrElse("corrupt", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val res = new Result
    val ctx = new Ctx(a, res)
    try {
      a.workload match {
        case "pipeline_stream" => PipelineStream.run(ctx)
        case "operator_suite"  => OperatorSuite.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally ctx.stopSession()
    Files.write(Paths.get(a.out), res.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

/** What one run reports: metrics with units, operations attempted and
  * failed, free-form facts about the inputs, and the trace's spans. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  var spans: Option[Spans] = None

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fact(name: String, value: Any): Unit = info(name) = value match {
    case s: String => "\"" + s + "\""
    case d: Double => f"$d%.6f"
    case v         => v.toString
  }

  /** One user-facing operation: it fails if it throws or its check returns
    * false. Returns the body's result when the body completed. */
  def op[T](name: String)(body: => (T, Boolean)): Option[T] = {
    attempted += 1
    try {
      val (v, ok) = body
      if (!ok) { failed += 1; failures += s"$name: output check failed" }
      Some(v)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $name failed")
        e.printStackTrace()
        None
    }
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val fs = failures.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"failures":$fs,"metrics":$ms,""" +
      s""""info":$inf,"spans":${spans.map(_.toJson).getOrElse("[]")}}"""
  }
}

/** Per-run context: arguments, the session, scratch paths, timing and
  * memory helpers shared by the workloads. */
final class Ctx(val a: Harness.Args, val res: Result) {
  val work: String = Paths.get(a.work).toAbsolutePath.toString
  private var current: Option[SparkSession] = None

  def spark: SparkSession = current.getOrElse(session(a.cpus))

  /** A local session with every scratch directory inside the run's work
    * dir. The knobs mirror the engine's own local launcher: shuffle
    * partitions = cores, AQE with a small coalesce floor, compressed RDD
    * blocks. */
  def session(cpus: Int): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    s
  }

  def stopSession(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def path(rel: String): String = s"$work/$rel"

  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up is timed `reps` times; the median is the run's `setup_s`. */
  def setup(reps: Int)(body: => Unit): Unit = {
    val ts = (1 to reps).map(_ => secs(body)._2)
    note(s"setup ${ts.map(t => f"$t%.3f").mkString(" ")}")
    res.metric("setup_s", Stats.median(ts), "s")
  }

  // ------------------------------------------------------------- files
  def dirBytes(p: String): Long = fileStats(p)._2
  def fileStats(p: String): (Long, Long) = {
    val d = Paths.get(p)
    if (!Files.exists(d)) (0L, 0L)
    else {
      val files = Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(f => Files.size(f)).sum)
    }
  }

  /** Deletes a directory tree; a `_SUCCESS` marker goes first so that an
    * interrupted delete never leaves a partial table that still looks
    * committed. */
  def delete(p: String): Unit = {
    val d = Paths.get(p)
    if (Files.exists(d)) {
      Files.deleteIfExists(d.resolve("_SUCCESS"))
      val all = Files.walk(d).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(x => Files.deleteIfExists(x))
    }
  }

  // -------------------------------------------------------------- heap
  private val heapBean = ManagementFactory.getMemoryMXBean
  private var peakHeap = 0L

  /** Live heap after a full collection; the run reports the largest
    * value seen. Called right after each timed operation, outside its
    * clock, while the operation's retained state is still reachable. */
  def sampleHeap(): Unit = {
    System.gc()
    peakHeap = math.max(peakHeap, heapBean.getHeapMemoryUsage.getUsed)
  }
  def reportHeap(): Unit = res.metric("jvm.peak_heap_mb", peakHeap / 1048576.0, "MB")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Pair-level scoring of a clustering against planted truth: a pair of
  * urls is "found" when both sit in one output cluster, and "true" when
  * both sit in one truth cluster. */
object Score {
  final case class PairScore(truePairs: Long, foundPairs: Long, both: Long) {
    def recall: Double = if (truePairs == 0) 1.0 else both.toDouble / truePairs
    def precision: Double = if (foundPairs == 0) 1.0 else both.toDouble / foundPairs
    def exact: Boolean = both == truePairs && both == foundPairs
  }

  private def c2(n: Long) = n * (n - 1) / 2

  def pairs(truth: Map[String, Long], found: Map[String, Long]): PairScore = {
    val tp = truth.values.groupBy(identity).values.map(v => c2(v.size.toLong)).sum
    val fp = found.values.groupBy(identity).values.map(v => c2(v.size.toLong)).sum
    val both = truth.toSeq.flatMap { case (u, t) => found.get(u).map(f => (t, f)) }
      .groupBy(identity).values.map(v => c2(v.size.toLong)).sum
    PairScore(tp, fp, both)
  }

  /** Splits one planted pair: the alphabetically first url of the
    * smallest truth cluster moves to a cluster of its own. Used by the
    * self-test to prove the check catches a broken report. */
  def corrupt(truth: Map[String, Long], found: Map[String, Long]): Map[String, Long] = {
    val smallest = truth.groupBy(_._2).values.minBy(g => (g.size, g.keys.min))
    val victim = smallest.keys.min
    found.updated(victim, Long.MinValue)
  }

  def report(res: Result, s: PairScore): Unit = {
    res.metric("dup_pair_recall", s.recall, "ratio")
    res.metric("dup_pair_precision", s.precision, "ratio")
    res.fact("true_pairs", s.truePairs)
    res.fact("found_pairs", s.foundPairs)
  }
}
