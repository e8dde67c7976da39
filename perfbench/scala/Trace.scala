package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task metrics summed over the jobs of one layer of one span, and the
  * clock, driver-thread CPU and GC time when its last job ended. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var lastEnd: Option[Mark] = None
}

/** Wall clock (ms), driver-thread CPU (ns) and JVM GC time (ms) at one moment. */
final case class Mark(wallMs: Long, driverCpuNs: Long, gcMs: Long)

/** Adds up task metrics per Spark job group. Stages are mapped to the group
  * of the job that submitted them; tasks of untraced jobs are ignored.
  *
  * A group registered with [[bySite]] is split further: each of its jobs
  * goes to the layer named by the innermost frame of the job's call site
  * that matches one of the group's patterns. The call site is the one of
  * the job's SQL execution, taken on the calling thread, so jobs that
  * broadcasts or adaptive stages submit from other threads land in the
  * layer of the call that caused them. Jobs that match no pattern stay
  * with the group itself.
  *
  * Events arrive on the listener-bus thread; readers call
  * [[PerfbenchBus.drain]] first and then read under the same lock. */
final class GroupListener(mark: Long => Mark) extends SparkListener {
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobKey = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, GroupTotals]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val sites = mutable.HashMap.empty[String, (Seq[(String, String)], Long)]

  /** Splits `group` by call site; `driverThread` is the thread whose CPU
    * the layer records take at each layer's last job end. */
  def bySite(group: String, patterns: Seq[(String, String)], driverThread: Long): Unit = synchronized {
    sites(group) = (patterns, driverThread)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.details }
    case s: SparkListenerSQLExecutionEnd => synchronized { execSite.remove(s.executionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val key = sites.get(g).flatMap { case (patterns, _) =>
        val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSite.get(id.toLong))
          .getOrElse(e.stageInfos.map(_.details).mkString("\n"))
        site.linesIterator.flatMap(frame =>
          patterns.collectFirst { case (pattern, layer) if frame.contains(pattern) => layer }).nextOption()
      }.fold(g)(layer => s"$g|$layer")
      e.stageIds.foreach(stageKey.put(_, key))
      jobKey(e.jobId) = key
      totals.getOrElseUpdate(key, new GroupTotals).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { key =>
      sites.get(key.takeWhile(_ != '|')).foreach { case (_, thread) =>
        totals.getOrElseUpdate(key, new GroupTotals).lastEnd = Some(mark(thread).copy(wallMs = e.time))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.taskMs += e.taskInfo.duration
    }
  }

  def take(group: String): GroupTotals = synchronized {
    totals.remove(group).getOrElse(new GroupTotals)
  }

  /** The layers a by-site group's jobs went to; unmatched jobs under `group`. */
  def takeSites(group: String): Seq[(String, GroupTotals)] = synchronized {
    sites.remove(group)
    val keys = totals.keys.filter(k => k == group || k.startsWith(s"$group|")).toSeq
    keys.map(k => k.stripPrefix(s"$group|") -> totals.remove(k).get)
  }
}

/** One finished span: a layer call, or the whole operation around them. */
final case class Span(id: Long, parent: Long, workload: String, name: String,
                      startMs: Double, endMs: Double, metrics: Map[String, Double])

/** Records spans around the benchmark's calls into each layer. Each layer
  * call runs in its own Spark job group; a listener sums that group's task
  * metrics. A layer's CPU is its tasks' CPU plus the driver thread's (plans,
  * collects and driver-local work); its GC is the JVM's collection time
  * during the span, which in local mode covers driver and executors alike.
  *
  * A call that runs several layers in one go ([[sites]]) is split by the
  * call site of each job; each layer's wall, driver CPU and GC then run
  * from the end of the previous layer's last job to the end of its own
  * (the last layer to the end of the call), so planning time goes to the
  * layer it plans for. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  private val threads = ManagementFactory.getThreadMXBean
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = collectors.map(c => math.max(0L, c.getCollectionTime)).sum
  private def markOf(thread: Long): Mark =
    Mark(System.currentTimeMillis(), threads.getThreadCpuTime(thread), gcMs)
  private val listener = new GroupListener(markOf)
  private val ids = new AtomicLong(0)
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private var opSpan = 0L
  private final case class Pending(id: Long, group: String, name: String, startNs: Long, endNs: Long,
                                   start: Mark, end: Mark, bySite: Boolean)
  private val pending = mutable.ArrayBuffer.empty[Pending]
  private val notes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** Runs one traced operation; returns the layer metrics it produced,
    * keyed `layer.metric`. */
  def op(body: => Unit): Map[String, Double] = {
    opSpan = ids.incrementAndGet()
    notes.clear()
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    PerfbenchBus.drain(sc)
    val layers = pending.toSeq.flatMap { p =>
      val parts =
        if (p.bySite) segments(p)
        else Seq((p.name, listener.take(p.group), p.start, p.end, (p.endNs - p.startNs) / 1e9))
      parts.map { case (name, totals, from, to, wallS) =>
        val m = layerMetrics(totals, wallS, to.driverCpuNs - from.driverCpuNs, to.gcMs - from.gcMs)
        val (s0, s1) = if (p.bySite) (from.wallMs - originMs + 0.0, to.wallMs - originMs + 0.0)
                       else (ms(p.startNs), ms(p.endNs))
        spans += Span(if (p.bySite) ids.incrementAndGet() else p.id, opSpan, workload, name, s0, s1, m)
        name -> m
      }
    }
    pending.clear()
    spans += Span(opSpan, 0, workload, "op", ms(t0), ms(t1), Map("wall_s" -> (t1 - t0) / 1e9))
    val merged = layers.groupBy(_._1).map { case (name, ms) =>
      name -> ms.map(_._2).reduce(combine) }
    val flat = merged.toSeq.flatMap { case (name, m) =>
      (m ++ notes.getOrElse(name, Map.empty)).map { case (k, v) => s"$name.$k" -> v } }
    val extra = notes.filter { case (name, _) => !merged.contains(name) }.toSeq
      .flatMap { case (name, m) => m.map { case (k, v) => s"$name.$k" -> v } }
    (flat ++ extra).toMap
  }

  /** A by-site span cut into its layers, in the order their last jobs ended. */
  private def segments(p: Pending): Seq[(String, GroupTotals, Mark, Mark, Double)] = {
    val parts = listener.takeSites(p.group).sortBy(_._2.lastEnd.fold(Long.MaxValue)(_.wallMs))
    if (parts.isEmpty) return Seq((p.name, new GroupTotals, p.start, p.end, (p.endNs - p.startNs) / 1e9))
    val ends = parts.init.map(_._2.lastEnd.get) :+ p.end
    val starts = p.start +: ends.init
    parts.indices.map { i =>
      (parts(i)._1, parts(i)._2, starts(i), ends(i), (ends(i).wallMs - starts(i).wallMs) / 1e3)
    }
  }

  /** Runs `body` as one layer span inside the current operation. */
  def layer[T](name: String)(body: => T): T = run(name, Nil)(body)

  /** Runs `body` as one span whose jobs are split into layers by call site:
    * `patterns` maps a stack-frame substring (such as
    * `"GeoFraudPipeline$.tfidfTiles("`) to the layer it names. */
  def sites[T](name: String, patterns: Seq[(String, String)])(body: => T): T = run(name, patterns)(body)

  private def run[T](name: String, patterns: Seq[(String, String)])(body: => T): T = {
    val id = ids.incrementAndGet()
    val group = s"$workload/$name/$id"
    val thread = Thread.currentThread.getId
    if (patterns.nonEmpty) listener.bySite(group, patterns, thread)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val start = markOf(thread)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      pending += Pending(id, group, name, t0, t1, start, markOf(thread), patterns.nonEmpty)
    }
  }

  /** Attaches a measured value (a row count, a ratio) to a layer's record. */
  def note(layer: String, key: String, value: Double): Unit =
    notes.getOrElseUpdate(layer, mutable.LinkedHashMap.empty)(key) = value

  private def ms(ns: Long): Double = (ns - originNs) / 1e6

  private def layerMetrics(t: GroupTotals, wallS: Double, driverCpuNs: Long, gcMs: Long): Map[String, Double] = {
    val sorted = t.taskMs.sorted
    val maxMs = sorted.lastOption.getOrElse(0L).toDouble
    val medianMs = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2).toDouble
    Map(
      "wall_s" -> wallS,
      "cpu_s" -> (t.cpuNs + driverCpuNs) / 1e9,
      "gc_s" -> gcMs / 1e3,
      "shuffle_write_mb" -> t.shuffleWrite / 1e6,
      "shuffle_read_mb" -> t.shuffleRead / 1e6,
      "spill_mb" -> t.spill / 1e6,
      "tasks" -> t.tasks.toDouble,
      "jobs" -> t.jobs.toDouble,
      "max_task_s" -> maxMs / 1e3,
      "task_skew" -> (if (medianMs > 0) maxMs / medianMs else 1.0))
  }

  /** Two spans of one layer in one operation add up; skew takes the worst. */
  private def combine(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) =>
      k -> (k match {
        case "max_task_s" | "task_skew" => math.max(v, b(k))
        case _ => v + b(k)
      })
    }
}
