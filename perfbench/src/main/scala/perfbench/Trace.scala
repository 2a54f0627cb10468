package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` is -1 for a top-level span. Times are
  * System.nanoTime readings. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
                 val runId: String, val startNs: Long) {
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters charged to one span (jobs whose job group is the span). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L // max over the span's tasks
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  /** stage id -> task durations (ms), for the skew ratio */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    o.taskMs.foreach { case (s, ts) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }

  /** Max over median task time, weighted by stage time, over the stages
    * that ran at least two tasks; 1.0 when no stage did. */
  def taskSkew: Double = {
    val multi = taskMs.values.filter(_.size >= 2).map(_.sorted)
    val weight = multi.map(_.sum.toDouble).sum
    if (weight == 0.0) 1.0
    else multi.map { ts =>
      val med = math.max(1L, ts(ts.size / 2)).toDouble
      ts.last / med * ts.sum / weight
    }.sum
  }
}

/** Attributes every Spark job to the span whose job group was set on the
  * submitting thread, and sums task metrics per span. Registered only for
  * traced passes. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Time spent in this listener's handlers. */
  var ownNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    ownNs += System.nanoTime() - t0
  }

  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  def snapshot: Map[Int, Counters] = synchronized(bySpan.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(Tracer.GroupPrefix).toInt
      counters(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(span)
      val info = e.taskInfo
      c.tasks += 1
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task lifetime not spent running,
      // deserializing, serializing the result or fetching it
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Spans kept in memory; each span sets its own job group so the listener
  * can charge engine work to it. With `enabled = false` a span is a plain
  * call: no job group, no clock reads. */
final class Tracer(sc: SparkContext, val runId: String) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Time spent opening and closing spans. */
  var ownNs = 0L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val s = new Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        runId, t0)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      val t1 = System.nanoTime()
      ownNs += t1 - t0
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
          case None    => sc.clearJobGroup()
        }
        ownNs += System.nanoTime() - s.endNs
      }
    }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root)
  }
}
