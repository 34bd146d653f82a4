package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.perfbench.Bus
import org.apache.spark.storage.RDDBlockId

object Tracer {
  /** Local properties the harness sets on the query thread. Threads the
    * program starts from it (streaming executions) inherit them, so every
    * job is tied to its query and phase. */
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  private def nowUs: Long = System.currentTimeMillis() * 1000L

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Long, var end: Long)

  /** Total length of the union of [s, e) intervals clipped to [lo, hi). */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}

/**
 * Spark listener for traced passes: records run → pass → query → phase →
 * job → stage spans (and stream triggers from [[StreamTracker]]) and the
 * per-query task, shuffle, scan, output and cache counters.
 */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  import Tracer._

  private final class Counters {
    var taskS, cpuS, gcS = 0.0
    var tasks, stages, shuffleW, shuffleR, spill, scanB, scanR, outB, outR = 0L
    var widthMax = 0
    val jobs = mutable.Set.empty[Int]
    val writeJobs = mutable.Set.empty[Int]
    val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val traced = mutable.Set.empty[Int]
  private val queryPass = mutable.Map.empty[Long, Int]
  private val counters = mutable.Map.empty[Long, Counters]
  private val jobQuery = mutable.Map.empty[Int, (Long, String)]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blockBytes = mutable.Map.empty[RDDBlockId, Long]
  private val passCache = mutable.Map.empty[Int, (Long, mutable.Set[RDDBlockId])]
  private var nextId = 1L
  private var active = false
  private var curPass = -1
  private val runSpan = Span(0, -1, "run", "run", nowUs, 0)
  private var passSpan: Span = _
  private val openSpans = mutable.Map.empty[(Long, String), Span]

  private def newSpan(parent: Long, kind: String, name: String, start: Long): Span =
    synchronized {
      val s = Span(nextId, parent, kind, name, start, start); nextId += 1
      spans += s; s
    }

  def isTraced(pass: Int): Boolean = synchronized(traced(pass))
  def passOf(qid: Long): Int = synchronized(queryPass.getOrElse(qid, -1))

  def attach(): Unit = { sc.addSparkListener(this); active = true }
  def detach(): Unit = { Bus.drain(sc); sc.removeSparkListener(this); active = false }

  def passStart(pass: Int, trace: Boolean): Unit = synchronized {
    curPass = pass
    if (trace) {
      traced += pass
      // the harness clears the cache after every query, so no block
      // outlives a pass; removals in untraced passes were not seen
      blockBytes.clear()
      passSpan = newSpan(0, "pass", s"pass $pass", nowUs)
      passCache(pass) = (0L, mutable.Set.empty)
    }
  }

  def passEnd(pass: Int): Unit = synchronized {
    if (traced(pass)) { passSpan.end = nowUs; runSpan.end = nowUs }
  }

  def queryStart(name: String, pass: Int): Long = synchronized {
    if (!active) { nextId += 1; return nextId - 1 }
    val s = newSpan(passSpan.id, "query", name, nowUs)
    queryPass(s.id) = pass
    counters(s.id) = new Counters
    openSpans((s.id, "query")) = s
    s.id
  }

  def queryEnd(qid: Long): Unit = synchronized {
    openSpans.remove((qid, "query")).foreach(_.end = nowUs)
  }

  def phaseStart(qid: Long, phase: String): Unit = synchronized {
    if (active) openSpans((qid, phase)) = newSpan(qid, "phase", phase, nowUs)
  }

  def phaseEnd(qid: Long, phase: String): Unit = synchronized {
    openSpans.remove((qid, phase)).foreach(_.end = nowUs)
  }

  private def phaseSpanId(qid: Long, phase: String): Long =
    spans.find(s => s.parent == qid && s.kind == "phase" && s.name == phase)
      .map(_.id).getOrElse(qid)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val qid = props.flatMap(p => Option(p.getProperty(QueryKey))).map(_.toLong).getOrElse(-1L)
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("none")
    jobQuery(e.jobId) = (qid, phase)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    counters.get(qid).foreach(_.jobs += e.jobId)
    jobSpan(e.jobId) = newSpan(phaseSpanId(qid, phase), "job", s"job ${e.jobId}", e.time * 1000)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time * 1000)
  }

  private def queryOfStage(stageId: Int): Option[Long] =
    stageJob.get(stageId).flatMap(jobQuery.get).map(_._1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (job <- stageJob.get(si.stageId); js <- jobSpan.get(job);
         s <- si.submissionTime; c <- si.completionTime) {
      newSpan(js.id, "stage", s"stage ${si.stageId}.${si.attemptNumber()}", s * 1000).end = c * 1000
    }
    queryOfStage(si.stageId).flatMap(counters.get).foreach { c =>
      c.stages += 1; c.widthMax = math.max(c.widthMax, si.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (qid <- queryOfStage(e.stageId); c <- counters.get(qid) if m != null) {
      c.tasks += 1
      c.taskS += m.executorRunTime / 1e3
      c.cpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.shuffleW += m.shuffleWriteMetrics.bytesWritten
      c.shuffleR += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.scanB += m.inputMetrics.bytesRead
      c.scanR += m.inputMetrics.recordsRead
      c.outB += m.outputMetrics.bytesWritten
      c.outR += m.outputMetrics.recordsWritten
      if (m.outputMetrics.bytesWritten > 0) stageJob.get(e.stageId).foreach(c.writeJobs += _)
      c.taskIv += ((e.taskInfo.launchTime * 1000, e.taskInfo.finishTime * 1000))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        if (size > 0) blockBytes(b) = size else blockBytes.remove(b)
        passCache.get(curPass).foreach { case (peak, blocks) =>
          if (size > 0) blocks += b
          passCache(curPass) = (math.max(peak, blockBytes.values.sum), blocks)
        }
      case _ =>
    }
  }

  /** Self time of each span: its length minus what its children cover. */
  private def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.id -> (s.end - s.start - covered(kids.getOrElse(s.id, Nil)
        .map(k => (k.start, k.end)), s.start, s.end))
    }.toMap
  }

  /** Per-layer metrics: per-pass totals averaged over the traced passes. */
  def layersJson(runs: Seq[Harness.QueryRun], streams: StreamTracker): String = synchronized {
    val passes = traced.toSeq.sorted
    val n = passes.size.toDouble
    val all = spans.toSeq ++ streams.triggerSpans(this)
    val self = selfTimes(all)
    val queries = spans.filter(_.kind == "query")
    val cs = queries.flatMap(q => counters.get(q.id).map(q -> _))
    def per(f: Counters => Double): Double = cs.map(x => f(x._2)).sum / n
    val tracedRuns = runs.filter(r => traced(r.pass))
    val passWall = spans.filter(_.kind == "pass").map(s => (s.end - s.start) / 1e6).sum
    val idle = cs.map { case (q, c) => (q.end - q.start) - covered(c.taskIv, q.start, q.end) }.sum
    val buildJobs = jobQuery.count { case (_, (qid, ph)) => ph == "build" && counters.contains(qid) }
    def selfOf(kind: String) = all.filter(_.kind == kind).map(s => self(s.id)).sum / 1e6 / n
    val st = streams.layer(q => counters.contains(q))
    val m = Seq(
      "build.s" -> tracedRuns.map(_.buildS).sum / n,
      "build.jobs" -> buildJobs / n,
      "plan.s" -> tracedRuns.map(_.planS).sum / n,
      "plan.exchanges" -> tracedRuns.map(_.exchanges).sum / n,
      "exec.s" -> tracedRuns.map(_.execS).sum / n,
      "sched.jobs" -> per(_.jobs.size),
      "sched.stages" -> per(_.stages.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "sched.width_max" -> cs.map(_._2.widthMax).foldLeft(0)(math.max).toDouble,
      "sched.idle_s" -> idle / 1e6 / n,
      "exec.task_s" -> per(_.taskS),
      "exec.cpu_s" -> per(_.cpuS),
      "exec.gc_s" -> per(_.gcS),
      "exec.occupancy" -> per(_.taskS) / (passWall / n * cores),
      "shuffle.write_bytes" -> per(_.shuffleW.toDouble),
      "shuffle.read_bytes" -> per(_.shuffleR.toDouble),
      "shuffle.spill_bytes" -> per(_.spill.toDouble),
      "scan.bytes" -> per(_.scanB.toDouble),
      "scan.rows" -> per(_.scanR.toDouble),
      "durable.write_bytes" -> per(_.outB.toDouble),
      "durable.write_records" -> per(_.outR.toDouble),
      "durable.write_jobs" -> per(_.writeJobs.size),
      "cache.peak_bytes" -> passes.map(p => passCache(p)._1).sum / n,
      "cache.blocks" -> passes.map(p => passCache(p)._2.size).sum / n,
      "self.query_s" -> selfOf("query"),
      "self.phase_s" -> selfOf("phase"),
      "self.job_s" -> selfOf("job"),
      "self.stage_s" -> selfOf("stage"),
      "self.trigger_s" -> selfOf("trigger")) ++ st.map { case (k, v) => k -> v / n }
    m.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
  }

  def writeSpans(f: File, streams: StreamTracker): Unit = synchronized {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      val all = (runSpan +: spans.toSeq) ++ streams.triggerSpans(this)
      w.println(all.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end}}""")
        .mkString(",\n"))
      w.println("]")
    } finally w.close()
  }

  /** Id of the phase span a streaming execution was started from. */
  def streamParent(qid: Long): Long = synchronized(phaseSpanId(qid, "build"))
  def nextSpanId(): Long = synchronized { nextId += 1; nextId - 1 }
}

/**
 * Streaming progress, always on: every trigger's `durationMs` and input
 * rows, tied to the query that started the stream (query-started events
 * are delivered on the starting thread, before `start()` returns).
 */
final class StreamTracker extends StreamingQueryListener {
  import StreamingQueryListener._

  final case class Trigger(qid: Long, pass: Int, run: String, startMs: Long,
      durations: Map[String, Long], rows: Long)

  @volatile var current: (Long, Int) = (-1L, -1)
  private val runs = mutable.Map.empty[java.util.UUID, (Long, Int)]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    runs(e.runId) = current
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val (qid, pass) = runs.getOrElse(p.runId, (-1L, -1))
    val d = p.durationMs
    val durations = d.keySet.toArray(Array.empty[String]).map(k => k -> d.get(k).longValue).toMap
    if (durations.contains("triggerExecution")) triggers += Trigger(qid, pass,
      p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli, durations,
      p.numInputRows)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def drain(spark: SparkSession): Unit = Bus.drain(spark.sparkContext)

  /** Trigger latencies, committed rows and drain wall of the passes `keep`
    * selects: one drain is a stream run's first trigger start to its last
    * trigger end. */
  def summaryJson(keep: Int => Boolean): String = synchronized {
    val ts = triggers.filter(t => t.pass >= 0 && keep(t.pass))
    val drainS = ts.groupBy(_.run).values.map { g =>
      (g.map(t => t.startMs + t.durations("triggerExecution")).max - g.map(_.startMs).min) / 1e3
    }.sum
    val passes = ts.map(_.pass).distinct.size
    s"""{"trigger_ms":${Json.arr(ts.map(_.durations("triggerExecution").toString))},""" +
    s""""rows":${ts.map(_.rows).sum},"drain_s":${Json.num(drainS)},"passes":$passes}"""
  }

  /** Per-layer streaming totals over triggers of traced queries. */
  def layer(tracedQuery: Long => Boolean): Seq[(String, Double)] = synchronized {
    val ts = triggers.filter(t => tracedQuery(t.qid))
    def sum(k: String) = ts.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val trig = ts.map(_.durations("triggerExecution").toDouble).sorted
    Seq(
      "stream.triggers" -> ts.size.toDouble,
      "stream.rows" -> ts.map(_.rows).sum.toDouble,
      "stream.trigger_ms" -> sum("triggerExecution"),
      "stream.addbatch_ms" -> sum("addBatch"),
      "stream.walcommit_ms" -> sum("walCommit"),
      "stream.commitoffsets_ms" -> sum("commitOffsets"),
      "stream.queryplanning_ms" -> sum("queryPlanning"),
      "stream.latestoffset_ms" -> sum("latestOffset"))
  }

  def triggerSpans(t: Tracer): Seq[Tracer.Span] = synchronized {
    triggers.filter(x => t.passOf(x.qid) >= 0).map { x =>
      Tracer.Span(t.nextSpanId(), t.streamParent(x.qid), "trigger", s"trigger ${x.run.take(8)}",
        x.startMs * 1000, (x.startMs + x.durations("triggerExecution")) * 1000)
    }.toSeq
  }
}
