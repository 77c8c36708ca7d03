// Lives under org.apache.spark so the tracer can drain the listener bus
// (LiveListenerBus.waitUntilEmpty is private[spark]) before it reports.
package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Engine counters attributed to one span (its own jobs, not its children's). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRecords = 0L
  var barrierBlocks, barrierBytes = 0L
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inputRecords += o.inputRecords
    barrierBlocks += o.barrierBlocks; barrierBytes += o.barrierBytes
    queries += o.queries; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    taskIntervals ++= o.taskIntervals
  }
}

final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the engine listeners of the traced run.
  *
  * Each span tags its jobs with `setJobGroup("bench-span-<id>")`; the
  * SparkListener attributes jobs, stages, tasks and task metrics through
  * that group, and RDD blocks (barriers: localCheckpoint/persist) through
  * the span whose job first computed the RDD. Planning phases come from a
  * QueryExecutionListener and belong to the innermost span open when the
  * query's analysis started. Spans stay in memory until [[report]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long)]
  private var nextId = 0
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val rddSpan = mutable.HashMap.empty[Int, Int]
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)] // start, analysis, opt, planning
  private val Prefix = "bench-span-"

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` inside a named span; nested calls record their parent. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, name, System.nanoTime(), System.currentTimeMillis()))
    sc.setJobGroup(Prefix + id, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, s0, m0) = open.pop()
      spans.synchronized {
        spans += Span(id, name, parent, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
      if (open.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(Prefix + open.top._1, open.top._2, interruptOnCancel = false)
    }
  }

  private def c(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt).foreach { id =>
      c(id).jobs += 1
      e.stageInfos.foreach { s =>
        stageSpan.getOrElseUpdate(s.stageId, id)
        s.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, id))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(id => c(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val k = c(id)
      k.tasks += 1
      k.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) if info.storageLevel.isValid =>
        rddSpan.get(rdd).foreach { id =>
          c(id).barrierBlocks += 1
          c(id).barrierBytes += info.memSize + info.diskSize
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      planPhases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** All closed spans with their own counters (planning attributed to the
    * innermost span that was open when the query's analysis started). */
  def report(): (Seq[Span], Map[Int, Counters]) = {
    drain()
    synchronized {
      val all = spans.synchronized(spans.toList)
      val out = mutable.HashMap.empty[Int, Counters]
      counters.foreach { case (id, k) => out(id) = k }
      planPhases.foreach { case (start, an, op, pl) =>
        val inner = all.filter(s => s.startMs <= start && start <= s.endMs)
        if (inner.nonEmpty) {
          val s = inner.maxBy(_.startNs)
          val k = out.getOrElseUpdate(s.id, new Counters)
          k.queries += 1; k.analysisMs += an; k.optimizationMs += op; k.planningMs += pl
        }
      }
      (all, out.toMap)
    }
  }
}

object Tracer {
  /** Span `s`'s counters plus those of every descendant. */
  def inclusive(s: Span, spans: Seq[Span], counters: Map[Int, Counters]): Counters = {
    val acc = new Counters
    def walk(id: Int): Unit = {
      counters.get(id).foreach(acc.add)
      spans.filter(_.parent == id).foreach(ch => walk(ch.id))
    }
    walk(s.id)
    acc
  }

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span, spans: Seq[Span]): Double =
    s.seconds - covered(spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs) / 1e9

  /** Wall seconds inside the span during which none of its tasks ran. */
  def noTaskSeconds(s: Span, k: Counters): Double =
    math.max(0.0, s.seconds - covered(k.taskIntervals.toSeq, s.startMs, s.endMs) / 1e3)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
