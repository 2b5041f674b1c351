package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in the same tracer, -1 for a request's root. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, request: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for one client thread. Spans are kept until the
  * run ends and written out then; counts recorded at the same boundaries
  * go into `counts` keyed by (request, name). */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[(Int, String), Double]
  private var stack = List.empty[Int]
  private var request = -1

  def begin(req: Int): Unit = { request = req; stack = Nil }

  def span[T](name: String)(body: => T): T = {
    val idx = spans.length
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), request)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }

  def count(name: String, v: Double): Unit =
    counts((request, name)) = counts.getOrElse((request, name), 0.0) + v

  /** Duration minus the part of it covered by direct children. */
  def selfSeconds(idx: Int): Double = {
    val s = spans(idx)
    val covered = spans.iterator.filter(_.parent == idx).map(c => c.endNs - c.startNs).sum
    (s.endNs - s.startNs - covered) / 1e9
  }

  private def indexed(req: Int) = spans.indices.filter(spans(_).request == req)

  /** Sum of the durations of the request's spans named `name`. */
  def total(req: Int, name: String): Double =
    indexed(req).filter(spans(_).name == name).map(spans(_).seconds).sum

  /** Share of the root span's time that named child layers account for. */
  def coverage(req: Int): Double =
    indexed(req).find(spans(_).parent == -1).map { root =>
      val d = spans(root).seconds
      if (d <= 0) 1.0 else 1.0 - selfSeconds(root) / d
    }.getOrElse(0.0)

  def toJson: String = spans.indices.map { i =>
    val s = spans(i)
    f"""{"name":"${s.name}","request":${s.request},"parent":${s.parent},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(i)}%.6f}"""
  }.mkString("[", ",\n", "]")
}

/** Spark task counters per request, collected from outside the library
  * through a registered listener. A job belongs to the request whose id is
  * its job group; a job without one (submitted from a pool thread that did
  * not inherit the group) belongs to the request whose time window holds
  * its submission time, which is unambiguous because one client runs at a
  * time. */
final class Counters extends SparkListener with QueryExecutionListener {
  final class Agg {
    var jobs, stages, tasks, buildJobs = 0L
    var runMs, gcMs, scanBytes, shuffleRead, shuffleWrite, spill, resultBytes = 0L
    var cpuNs, peakExecMem = 0L
    var planMs = 0L
  }
  private val windows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private var buildEndMs = Long.MaxValue
  private val stageReq = mutable.Map.empty[Int, Int]
  val byRequest = mutable.Map.empty[Int, Agg]

  def open(req: Int): Unit = synchronized {
    windows += ((req, System.currentTimeMillis(), Long.MaxValue)); buildEndMs = Long.MaxValue
  }
  def buildDone(): Unit = synchronized { buildEndMs = System.currentTimeMillis() }
  def close(req: Int): Unit = synchronized {
    val i = windows.lastIndexWhere(_._1 == req)
    if (i >= 0) windows(i) = windows(i).copy(_3 = System.currentTimeMillis())
  }

  private def byTime(ms: Long): Option[Int] =
    windows.reverseIterator.find(w => w._2 <= ms && ms <= w._3).map(_._1)

  private def agg(req: Int) = byRequest.getOrElseUpdate(req, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => scala.util.Try(g.stripPrefix("req-").toInt).toOption)
    val live = byTime(e.time)
    val req = group.filter(g => live.contains(g)).orElse(live)
    req.foreach { r =>
      val a = agg(r)
      a.jobs += 1
      if (e.time <= buildEndMs) a.buildJobs += 1
      e.stageIds.foreach(stageReq(_) = r)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageReq.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (r <- stageReq.get(e.stageId) if m != null) {
      val a = agg(r)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.scanBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.resultBytes += m.resultSize
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  // planning phases of the full-result write (the noop sink is a V2 write
  // command); actions inside a query builder count as build work
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.analyzed.isInstanceOf[V2WriteCommand]) synchronized {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      windows.lastOption.foreach(w => agg(w._1).planMs += planMs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
