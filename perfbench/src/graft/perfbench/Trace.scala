package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run.
  *
  * A span is one timed call from the benchmark into a layer of the
  * program (`lake.add`, `api.lookup`, `qe:<query>` for a query's
  * execution, ...).
  * Spark work is attributed to spans after the run, from timestamps: a
  * job belongs to the span whose wall interval contains its submission
  * time. Traced runs are single-caller, so spans never overlap and the
  * attribution is exact. Untraced runs use [[Trace.off]], which records
  * nothing and registers no listener.
  */
final class Trace private (sc: Option[SparkContext]) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = sc.map { c => val l = new Listener; c.addSparkListener(l); l }
  @volatile private var active = listener.isDefined
  /** Whether spans are being recorded right now. */
  def enabled: Boolean = active

  /** Runs `body` as one span of `name`. */
  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally if (enabled) synchronized {
      spans += Span(name, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
    }
  }

  /** Adds to the result count of the last span named `name`. */
  def results(name: String, n: Long): Unit = if (enabled) synchronized {
    spans.findLast(_.name == name).foreach(_.results += n)
  }

  /** Runs `body` with recording off: the untraced half of an overhead pair. */
  def pause[A](body: => A): A = {
    val was = active
    active = false; listener.foreach(_.paused = true)
    try body finally { active = was; listener.foreach(_.paused = !was) }
  }

  /** Per-span totals, once every job the spans started has ended. The
    * listener is removed on first use; later spans are not recorded.
    */
  lazy val totals: Map[String, Totals] = listener match {
    case None => Map.empty
    case Some(l) =>
      active = false
      sc.foreach(l.drain)
      sc.foreach(c => c.removeSparkListener(l))
      val jobs = l.jobs.values.toSeq
      val out = mutable.Map.empty[String, Totals]
      val byStart = synchronized(spans.toVector).sortBy(_.t0)
      for (s <- byStart) {
        val t = out.getOrElseUpdate(s.name, new Totals)
        t.calls += 1; t.s += s.s; t.results += s.results
        val mine = jobs.filter(j => j.submit >= s.t0 && j.submit <= s.t1)
        t.jobs += mine.size
        t.sparkS += covered(mine.map(j => (j.submit max s.t0, j.end min s.t1))) / 1e3
        mine.foreach { j =>
          t.tasks += j.tasks; t.taskS += j.taskMs / 1e3
          t.inBytes += j.inBytes; t.inRows += j.inRows
          t.outBytes += j.outBytes; t.shuffleBytes += j.shuffleBytes
          if (j.tasks == 1) t.singleTaskJobs += 1
        }
      }
      out.toMap
  }
}

object Trace {
  def off: Trace = new Trace(None)
  def on(sc: SparkContext): Trace = new Trace(Some(sc))

  final case class Span(name: String, t0: Long, t1: Long, s: Double) {
    var results = 0L
  }

  final class Totals {
    var calls = 0L; var results = 0L; var s = 0.0; var sparkS = 0.0
    var jobs = 0L; var tasks = 0L; var taskS = 0.0; var singleTaskJobs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var shuffleBytes = 0L
  }

  /** Milliseconds covered by at least one of the intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1) if b > a) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  final class Job(val submit: Long) {
    @volatile var end: Long = Long.MaxValue
    var tasks = 0L; var taskMs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var shuffleBytes = 0L
  }

  private final class Listener extends SparkListener {
    @volatile var paused = false
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]().asScala
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile private var open = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = if (!paused) {
      val j = new Job(e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob.put(_, j))
      synchronized(open += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j => j.end = e.time; synchronized(open -= 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null && e.taskMetrics != null) j.synchronized {
        val m = e.taskMetrics
        j.tasks += 1
        j.taskMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

    /** Waits (bounded) until the listener bus has delivered every job end. */
    def drain(sc: SparkContext): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while ((open > 0 || sc.statusTracker.getActiveJobIds().nonEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    }
  }
}
