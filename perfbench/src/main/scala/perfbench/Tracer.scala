package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics added up per job group. One instance per session; the
  * tracer gives every span its own group. */
final class GroupListener extends SparkListener {
  final class Acc {
    var cpuNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageInfos.foreach(si => stageGroup.put(si.stageId, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val a = accs.computeIfAbsent(g, _ => new Acc)
      a.synchronized {
        a.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  def take(group: String): Acc = Option(accs.remove(group)).getOrElse(new Acc)
}

/** One traced operation's spans and counters, kept in memory. */
final class Tracer(spark: SparkSession, listener: GroupListener,
    val runId: String) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Open spans, innermost first: (name, job group). */
  private val stack = mutable.Stack.empty[(String, String)]
  private var seq = 0

  /** Run `body` as span `name`: its Spark jobs carry the span's job
    * group, and its task metrics are read once the listener bus has
    * delivered them. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    seq += 1
    val group = s"$runId/$seq/$name"
    val parent = stack.headOption.map(_._1).getOrElse("")
    stack.push((name, group))
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val gc0 = Jvm.gcSeconds()
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      val gc = Jvm.gcSeconds() - gc0
      stack.pop()
      stack.headOption match {
        case Some((outer, outerGroup)) =>
          sc.setJobGroup(outerGroup, outer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      PerfbenchBridge.drainListenerBus(sc)
      spans += Span(name, parent, runId, t0, t1, gc, listener.take(group))
    }
  }

  def count(name: String, value: Double): Unit = counters(name) = value

  /** Per-layer metrics of this operation: the span statistics listed in
    * [[SpanStats]] plus every counter. */
  def metrics: Map[String, Double] =
    spans.flatMap(s => s.stats.map { case (k, v) => s"${s.name}.$k" -> v })
      .toMap ++ counters
}

object Tracer {
  private val Mb = 1024.0 * 1024.0

  /** The span statistics the benchmark reports as per-layer metrics.
    * Shuffle-read volume is written to the span dump only. */
  val SpanStats: Seq[String] =
    Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
      "task_skew")

  final case class Span(name: String, parent: String, runId: String,
      startNs: Long, endNs: Long, gcS: Double, acc: GroupListener#Acc) {
    def wallS: Double = (endNs - startNs) / 1e9
    def tasks: Int = acc.taskMs.size
    def taskSkew: Double =
      if (acc.taskMs.isEmpty) 0.0
      else {
        val med = Clock.median(acc.taskMs.map(_.toDouble).toSeq)
        acc.taskMs.max / math.max(med, 1.0)
      }
    def all: Seq[(String, Double)] = Seq(
      "wall_s" -> wallS,
      "cpu_s" -> acc.cpuNs / 1e9,
      "gc_s" -> gcS,
      "shuffle_read_mb" -> acc.shuffleReadBytes / Mb,
      "shuffle_write_mb" -> acc.shuffleWriteBytes / Mb,
      "spill_mb" -> acc.spillBytes / Mb,
      "tasks" -> tasks.toDouble,
      "task_skew" -> taskSkew)
    def stats: Seq[(String, Double)] =
      all.filter { case (k, _) => SpanStats.contains(k) }
    def json: String = Json.obj(Seq(
      "name" -> Json.str(name), "parent" -> Json.str(parent),
      "run_id" -> Json.str(runId),
      "start_ns" -> startNs.toString, "end_ns" -> endNs.toString) ++
      all.map { case (k, v) => k -> Json.num(v) })
  }
}
