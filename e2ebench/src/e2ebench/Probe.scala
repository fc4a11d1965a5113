package e2ebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds so that call spans
  * (timed here) and job / SQL spans (timed by Spark's listener events, in
  * epoch milliseconds) share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startUs: Long, var endUs: Long)

/** A phase's window, with the codegen and GC totals at its two ends. */
final case class PhaseWin(name: String, startUs: Long, var endUs: Long,
                          cg0: (Long, Double), gc0: Long,
                          var cg1: (Long, Double) = (0L, 0.0), var gc1: Long = 0L)

final case class JobRec(startUs: Long, var endUs: Long, span: Span)

final case class TaskRec(endUs: Long, runMs: Long, shuffleBytes: Long,
                         spillBytes: Long, outBytes: Long)

/** One SQL action as the query-execution listener saw it. */
final case class ActionRec(endUs: Long, durMs: Double, outPath: String, failed: Boolean)

/** Everything the benchmark observes about a run: call timings, the spans
  * of a traced run, and the counters Spark publishes on its own listener
  * channels. All listeners are registered here, from benchmark code; the
  * program under test is not modified.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  // ---- spans ---------------------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  @volatile private var openId: Int = -1

  private def newSpan(parent: Int, name: String, layer: String,
                      startUs: Long): Span = spans.synchronized {
    val s = Span(spans.size, parent, name, layer, startUs, -1L)
    spans += s
    s
  }

  /** Time one call into the program. Returns (result or failure, seconds). */
  def call[T](layer: String, name: String)(f: => T): (Either[Throwable, T], Double) = {
    val s = if (tracing) newSpan(openId, name, layer, nowUs) else null
    if (s != null) { open.push(s); openId = s.id }
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (s != null) {
      drain()
      s.endUs = nowUs
      open.pop()
      openId = if (open.isEmpty) -1 else open.top.id
    }
    (r, secs)
  }

  /** Listener events arrive on Spark's bus thread; wait until it caught up. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  // ---- phases --------------------------------------------------------------
  val phases = mutable.ArrayBuffer.empty[PhaseWin]

  def phase[T](name: String)(f: => T): T = {
    drain()
    val (r, _) = call("phase", name) {
      val w = PhaseWin(name, nowUs, -1L, codegen(), gcMs())
      phases += w
      try f finally {
        drain()
        w.endUs = nowUs; w.cg1 = codegen(); w.gc1 = gcMs()
      }
    }
    r.fold(e => throw e, identity)
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** (compilations, total compile ms) from Spark's CodegenMetrics source. */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val vals = snap.getValues
    // the reservoir keeps every sample until it is full; past that, the
    // count times the retained mean
    val total = if (vals.length.toLong >= h.getCount) vals.map(_.toDouble).sum
                else h.getCount * snap.getMean
    (h.getCount, total)
  }

  // ---- Spark listener: jobs, tasks, SQL executions -------------------------
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val sqlSpans = mutable.HashMap.empty[Long, Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val execSpan = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSpans.get(id.toLong))
      val sp = if (!tracing) null
        else newSpan(execSpan.map(_.id).getOrElse(openId), s"job ${e.jobId}",
          "spark.job", e.time * 1000L)
      jobs(e.jobId) = JobRec(e.time * 1000L, -1L, sp)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j =>
        j.endUs = e.time * 1000L
        if (j.span != null) j.span.endUs = j.endUs
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.taskInfo.finishTime * 1000L,
        m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if tracing =>
        sqlSpans(s.executionId) = newSpan(openId,
          s"sql ${s.executionId}: ${s.description.take(60)}", "spark.sql",
          s.time * 1000L)
      case s: SparkListenerSQLExecutionEnd if tracing =>
        sqlSpans.get(s.executionId).foreach(_.endUs = s.time * 1000L)
      case _ =>
    }
  }

  // ---- query execution listener: what each action wrote, and how long it took
  private val actions = mutable.ArrayBuffer.empty[ActionRec]

  private def outputPath(qe: QueryExecution): String =
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
      c.outputPath.toString
    }.getOrElse("")

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.synchronized {
        actions += ActionRec(nowUs, durationNs / 1e6, outputPath(qe), false)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.synchronized {
        actions += ActionRec(nowUs, 0.0, outputPath(qe), true)
      }
  }

  // ---- streaming listener --------------------------------------------------
  val progress = mutable.ArrayBuffer.empty[(java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += ((e.progress.id, e.progress)) }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def progressOf(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized(progress.filter(_._1 == id).map(_._2).toSeq)

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  // ---- per-phase reports ---------------------------------------------------
  private def within(w: PhaseWin, us: Long) = us >= w.startUs && us <= w.endUs

  /** Seconds of SQL actions in phase windows whose output path `target`
    * accepts (the table an action wrote names its layer).
    */
  def writeSeconds(phaseNames: Set[String], target: String => Boolean): Double = {
    val ws = phases.filter(p => phaseNames(p.name))
    actions.synchronized(actions.filter(a => !a.failed &&
      ws.exists(w => within(w, a.endUs)) && target(a.outPath)).map(_.durMs).sum) / 1000.0
  }

  def outputBytes(phaseName: String): Long = {
    val ws = phases.filter(_.name == phaseName)
    tasks.filter(t => ws.exists(w => within(w, t.endUs))).map(_.outBytes).sum
  }

  /** The eight per-phase counters, summed over every window of that phase. */
  def phaseMetrics(name: String, cores: Int): Seq[(String, Double)] = {
    val ws = phases.filter(_.name == name).toSeq
    val wallUs = ws.map(w => w.endUs - w.startUs).sum.toDouble
    val js = jobs.values.filter(j => j.endUs > 0 && ws.exists(w => within(w, j.startUs))).toSeq
    val ts = tasks.filter(t => ws.exists(w => within(w, t.endUs))).toSeq
    // wall time no job of this phase was running: phase wall minus the
    // union of its job intervals
    val busyUs = ws.map { w =>
      val iv = js.map(j => (math.max(j.startUs, w.startUs), math.min(j.endUs, w.endUs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      iv.foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { covered += b - s; cur = b }
      }
      covered
    }.sum
    Seq(
      (s"$name.jobs", js.size.toDouble),
      (s"$name.tasks", ts.size.toDouble),
      (s"$name.busy_frac", if (wallUs <= 0) 0.0 else ts.map(_.runMs).sum * 1000.0 / (wallUs * cores)),
      (s"$name.driver_gap_s", math.max(0.0, (wallUs - busyUs) / 1e6)),
      (s"$name.shuffle_bytes", ts.map(_.shuffleBytes).sum.toDouble),
      (s"$name.spill_bytes", ts.map(_.spillBytes).sum.toDouble),
      (s"$name.gc_s", ws.map(w => w.gc1 - w.gc0).sum / 1000.0),
      (s"$name.codegen_ms", ws.map(w => w.cg1._2 - w.cg0._2).sum))
  }

  // ---- span report ---------------------------------------------------------
  /** Self time of every span: each instant of a span's interval goes to the
    * deepest span open at that instant (latest start on ties), so the self
    * times of a phase's subtree add up to exactly the phase's wall.
    */
  def selfTimes(): Map[Int, Long] = {
    val all = spans.synchronized(spans.filter(s => s.endUs >= s.startUs).toSeq)
    val byId = all.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (p >= 0 && byId.contains(p)) { d += 1; p = byId(p).parent }
      d
    }
    // clip every span to its ancestors so a child never outlives its parent
    def clipped(s: Span): (Long, Long) = {
      var a = s.startUs; var b = s.endUs; var p = s.parent
      while (p >= 0 && byId.contains(p)) {
        val q = byId(p); a = math.max(a, q.startUs); b = math.min(b, q.endUs); p = q.parent
      }
      (a, math.max(a, b))
    }
    val iv = all.map(s => (s, clipped(s), depth(s)))
    val cuts = iv.flatMap { case (_, (a, b), _) => Seq(a, b) }.distinct.sorted
    val self = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    // sweep: active spans per elementary interval
    val starts = iv.sortBy(_._2._1)
    var i = 0
    val active = mutable.Set.empty[(Span, (Long, Long), Int)]
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        while (i < starts.size && starts(i)._2._1 <= a) { active += starts(i); i += 1 }
        active.filterInPlace(_._2._2 > a)
        if (active.nonEmpty) {
          val top = active.maxBy(x => (x._3, x._2._1, x._1.id))
          self(top._1.id) += b - a
        }
      case _ =>
    }
    all.map(s => s.id -> self(s.id)).toMap
  }

  /** Spans as JSON lines plus a per-phase self-time table. */
  def writeTrace(path: java.nio.file.Path, header: String): Seq[String] = {
    val self = selfTimes()
    val all = spans.synchronized(spans.toSeq)
    val byId = all.map(s => s.id -> s).toMap
    def phaseOf(s: Span): Option[Span] = {
      var cur = s
      while (cur.parent >= 0 && byId.contains(cur.parent)) cur = byId(cur.parent)
      if (cur.layer == "phase") Some(cur) else None
    }
    val sb = new StringBuilder
    sb ++= header + "\n"
    all.foreach { s =>
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${esc(s.name)}",""" +
        f""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self.getOrElse(s.id, 0L)}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
    // summary: per phase, wall and self time by layer
    all.filter(_.layer == "phase").map { p =>
      val byLayer = all.filter(s => phaseOf(s).contains(p))
        .groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self.getOrElse(s.id, 0L)).sum }
      val wall = p.endUs - p.startUs
      val acc = byLayer.values.sum
      f"${p.name}%-10s wall ${wall / 1e6}%8.3f s  self-sum ${acc / 1e6}%8.3f s  " +
        byLayer.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=${v / 1e6}%.3f" }.mkString(" ")
    }
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", " ")
}
