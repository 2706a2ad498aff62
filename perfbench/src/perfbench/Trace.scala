package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. Spans live in memory and are
  * written out once, when the run ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer. Nesting
  * follows each thread's call stack: a span opened inside another on the
  * same thread names it as its parent (0 = root). */
final class Spans {
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => List(0))
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  def apply[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.head
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(id, parent, name, t0, System.nanoTime())
      done.synchronized(done += s)
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = done.synchronized(done.sortBy(_.startNs).toSeq)
  def byName(name: String): Seq[Span] = all.filter(_.name == name)
  def total(name: String): Double = byName(name).map(_.seconds).sum

  def toJson: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}"""
  }.mkString("[", ",\n", "]")
}

/** Task metrics summed per job group. The benchmark runs each pipeline
  * stage under a job group named after it, so every Spark task is
  * attributed to the stage whose call started its job. */
final class StageListener extends SparkListener {

  final class Acc {
    var tasks = 0L
    var cpuNs = 0L
    var fetchWaitMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** task run times per Spark stage, for the skew figure */
    val runMsByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  private val groupOfStage = mutable.Map[Int, String]()
  val groups = mutable.Map[String, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(name => e.stageIds.foreach(id => groupOfStage(id) = name))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) groupOfStage.get(e.stageId).foreach { g =>
      val a = groups.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.runMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Max over median task run time, in the Spark stage of the group that
    * spent the most task time (1.0 = perfectly even; 0 = no tasks). */
  def skew(g: String): Double = synchronized {
    groups.get(g).flatMap { a =>
      a.runMsByStage.values.filter(_.nonEmpty).toSeq.sortBy(-_.sum).headOption
    }.map { ts =>
      val s = ts.sorted
      val med = s(s.length / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }.getOrElse(0.0)
  }
}

object StageListener {
  def install(spark: SparkSession): StageListener = {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    l
  }
  def remove(spark: SparkSession, l: StageListener): Unit = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
  }
}
