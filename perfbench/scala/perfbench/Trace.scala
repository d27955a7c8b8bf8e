package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark operation (layer "op") or a public call inside it
  * ("dag", "index", "action"). `rulesNs` is the Catalyst rule time spent
  * while the span was open, children included. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, var end: Double = 0, var rulesNs: Long = 0)

/** One Spark job, attached to the innermost open span through its job group. */
final case class Job(id: Int, span: Int, start: Long, var end: Long = -1,
                     var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0,
                     var gcMs: Long = 0, var shRead: Long = 0, var shWrite: Long = 0,
                     var spill: Long = 0)

/** Spans recorded from the benchmark's own code, plus a Spark listener and a
  * QueryExecutionListener. Disabled, `span` only runs its body: untimed
  * bookkeeping stays out of the end-to-end runs. Times are epoch ms. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = base + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** (startMs, phase -> ms) of each executed query. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private def rules: Long = RuleExecutor.getCurrentMetrics().time

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, now, rulesNs = rules)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = now
        s.rulesNs = rules - s.rulesNs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs.put(e.jobId, Job(e.jobId, g.fold(-1)(_.toInt), e.time))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        job(e.stageInfo.stageId).foreach(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shRead += m.shuffleReadMetrics.totalBytesRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        executions.add((ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
          ph.map { case (k, v) => k -> v.durationMs }))
      }
    })
  }

  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  /** Self time per layer over [t0, t1]: wall time with a Spark job running
    * is "jobs"; the rest goes to the innermost open span's layer ("bench"
    * outside any span), less the Catalyst rule time measured in that span,
    * which is "catalyst". The layers sum to t1 - t0. */
  def selfTimes(t0: Double, t1: Double): Map[String, Double] = {
    val js = jobs.values.toArray(Array.empty[Job]).filter(j => j.end >= t0 && j.start <= t1)
    // (time, kind, span id); kinds 0 job end, 1 job start, 2 span end,
    // 3 span start, 4 window edge: at equal times ends sort before starts
    val ev = mutable.ArrayBuffer[(Double, Int, Int)]()
    js.foreach { j => ev += ((j.start.toDouble max t0, 1, -1)); ev += ((j.end.toDouble min t1, 0, -1)) }
    spans.foreach { s => ev += ((s.start, 3, s.id)); ev += ((s.end, 2, s.id)) }
    ev += ((t0, 4, -1)); ev += ((t1, 4, -1))
    val sorted = ev.sortBy(e => (e._1, e._2))
    val selfMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    var running = 0
    var open = List.empty[Int]
    var jobsMs = 0.0
    var prev = t0
    for ((t, kind, id) <- sorted) {
      val a = prev max t0
      val b = t min t1
      if (b > a) {
        if (running > 0) jobsMs += b - a
        else selfMs(open.headOption.getOrElse(-1)) += b - a
      }
      prev = t
      kind match {
        case 1 => running += 1
        case 0 => running -= 1
        case 3 => open = id :: open
        case 2 => open = open.filterNot(_ == id)
        case _ =>
      }
    }
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    out("jobs") = jobsMs
    out("bench") += selfMs(-1)
    val childRules = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childRules(s.parent) += s.rulesNs)
    spans.foreach { s =>
      val self = selfMs(s.id)
      if (self > 0) {
        val cat = ((s.rulesNs - childRules(s.id)) / 1e6).max(0.0).min(self)
        out("catalyst") += cat
        out(if (s.layer == "op") "bench" else s.layer) += self - cat
      }
    }
    out.toMap.map { case (k, v) => k -> v / 1000.0 }
  }
}
