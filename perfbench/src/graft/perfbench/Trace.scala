package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval on the driver thread. Times are epoch
  * milliseconds with sub-millisecond precision, so they compare with
  * the millisecond stamps Spark puts on job events. */
final case class Span(id: Int, parent: Int, depth: Int, name: String,
    module: String, layer: String, pass: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Records spans in memory. Calls are issued from one driver thread, so
  * the open spans form one stack. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, Int)] = Nil // (id, depth)

  /** Runs `f` inside a span; the span is recorded even when `f` throws. */
  def span[A](name: String, module: String, layer: String, pass: Int)(f: => A): A = {
    val id = spans.length
    val (parent, depth) = open.headOption.fold((-1, 0)) { case (p, d) => (p, d + 1) }
    spans += Span(id, parent, depth, name, module, layer, pass, nowMs, Double.NaN)
    open = (id, depth) :: open
    try f
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }
}

/** What the listener saw of one Spark job. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long = -1L,
    var tasks: Long = 0L, var shuffleWrite: Long = 0L, var spill: Long = 0L,
    var checkpoints: Int = 0) {
  def ms: Long = if (endMs >= startMs) endMs - startMs else 0L
}

/** Counts jobs, tasks, shuffle bytes, spill and newly persisted
  * (checkpointed) RDDs per Spark job. Spans are attached afterwards by
  * job start time ([[Trace.attribute]]), never by thread-local
  * properties: operators submit jobs from pool threads (`Par.all`),
  * which carry no properties of the calling thread. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val persisted = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (j <- stageJob.get(e.stageInfo.stageId); job <- jobs.get(j)) {
      // a persisted RDD computed for the first time: a localCheckpoint,
      // checkpoint or cache being filled
      val fresh = e.stageInfo.rddInfos.filter(r => r.storageLevel.isValid && persisted.add(r.id))
      job.checkpoints += fresh.size
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
      job.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  def snapshot: Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toSeq)
}

object Trace {

  /** The span a job belongs to: the deepest span open when the job
    * started. Job stamps are whole milliseconds, so a span "open at t"
    * is one overlapping [t, t+1); among spans of the deepest depth the
    * one covering most of that millisecond wins. None when the job
    * started outside every span. */
  def attribute(spans: Seq[Span], tMs: Long): Option[Span] = {
    val lo = tMs.toDouble
    val hi = lo + 1
    val hits = spans.filter(s => s.startMs < hi && s.endMs > lo)
    if (hits.isEmpty) None
    else {
      val d = hits.map(_.depth).max
      Some(hits.filter(_.depth == d)
        .maxBy(s => math.min(hi, s.endMs) - math.max(lo, s.startMs)))
    }
  }

  /** Self time: the span's duration minus the part of it that its
    * children cover (children clipped to the span, overlaps counted once). */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val iv = children
      .map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    span.ms - covered
  }

  /** Jobs grouped by the span id they are attributed to (-1 = none). */
  def jobsBySpan(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] =
    jobs.groupBy(j => attribute(spans, j.startMs).fold(-1)(_.id))

  /** Spans and their attributed job counters as a JSON document. */
  def toJson(spans: Seq[Span], jobs: Seq[JobRec]): String = {
    val by = jobsBySpan(spans, jobs)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val js = by.getOrElse(s.id, Nil)
      f"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"module":${q(s.module)},""" +
        f""""layer":${q(s.layer)},"pass":${s.pass},"start_ms":${s.startMs}%.3f,""" +
        f""""dur_ms":${s.ms}%.3f,"self_ms":${selfMs(s, kids.getOrElse(s.id, Nil))}%.3f,""" +
        f""""jobs":${js.size},"tasks":${js.map(_.tasks).sum},""" +
        f""""shuffle_write_bytes":${js.map(_.shuffleWrite).sum},"spill_bytes":${js.map(_.spill).sum},""" +
        f""""checkpoints":${js.map(_.checkpoints).sum}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
