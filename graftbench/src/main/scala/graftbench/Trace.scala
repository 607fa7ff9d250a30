package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, made from the benchmark's side of the API.
  * `phase` splits a query call into build / plan / exec; CDC and store calls
  * carry their own phase name.
  */
final case class Span(id: Int, parent: Int, round: Int, layer: String, name: String,
    phase: String, startNs: Long) {
  var endNs: Long = startNs
  var ok: Boolean = true
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written when the run ends. Each open span is the
  * thread's Spark job group, so every job the call starts is attributed to
  * the innermost span by [[EngineListener]]. Disabled, `span` is just `body`.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var round: Int = -1

  def span[T](layer: String, name: String, phase: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), round,
        layer, name, phase, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), s"${s.layer}.${s.name}.${s.phase}")
      try body
      catch { case e: Throwable => s.ok = false; throw e }
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), s"${p.layer}.${p.name}.${p.phase}")
          case None => sc.clearJobGroup()
        }
      }
    }

  def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span and every span below it. */
  def subtree(s: Span, kids: Map[Int, Seq[Span]]): Seq[Span] =
    s +: kids.getOrElse(s.id, Nil).flatMap(subtree(_, kids))

  /** Wall time of `s` not covered by its direct children. */
  def selfMs(s: Span, kids: Map[Int, Seq[Span]]): Double =
    s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum
}

object Tracer {
  def group(id: Int): String = s"graftbench-span-$id"
  def spanOf(group: String): Int =
    if (group != null && group.startsWith("graftbench-span-")) group.stripPrefix("graftbench-span-").toInt
    else 0
}

/** Work a Spark job did, summed over its tasks. */
final class JobStat(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: JobStat): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Job and task census, registered only in traced runs. Jobs map to spans
  * through the job group the [[Tracer]] set on the calling thread.
  */
final class EngineListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, JobStat]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobStat(e.jobId, Tracer.spanOf(group), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[JobStat] = synchronized(jobs.values.toSeq)
}
