package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.Counters

/** Per-query profile: each query runs as in `graft.Bench` (a warm-up
  * `count()`, then a measured one) and prints one JSON line with its
  * `build_s`/`build_jobs` (DataFrame construction, eager staging jobs
  * included), `plan_s` (Catalyst analysis + optimization + planning of the
  * measured action, from its `QueryPlanningTracker`; AQE re-planning counts
  * as execution), `exec_s` with the action's job/stage/task/byte totals,
  * every job (`jobs`), and the per-query deltas of [[Counters]]. `wall_s`
  * is timed on its own: its gap to build + plan + exec is unattributed.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [query ...]
  *        (no query args = the whole registry)
  */
object Profile {

  /** Local property tagging a job with the phase it was submitted in. */
  val PhaseKey = "graft.profile.phase"

  final class Job(val id: Int, val phase: String, val site: String, val submitMs: Long) {
    @volatile var endMs = -1L
    var stages, tasks, taskMs, shuffleWriteBytes, outputBytes, spillBytes = 0L
  }

  /** Records the jobs submitted under [[PhaseKey]], and tells when an
    * action's execution end has been delivered: the listener bus delivers
    * in order, so by then every job event before it has been delivered.
    */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    // SQL execution id -> the call site that started it: AQE submits a
    // query's jobs from a pool thread, whose own call site names no caller
    private val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val delivered = java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

    def reset(): Unit = { jobs.clear(); stageJob.clear(); execSite.clear() }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId.toString, s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { phase =>
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(execSite.get(id)))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        val j = new Job(e.jobId, phase, site, e.time)
        e.stageIds.foreach(stageJob.put(_, j))
        jobs.put(e.jobId, j)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    // stages that ran: a job also lists the stages it skips
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = signal(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = signal(qe)
    private def signal(qe: QueryExecution): Unit =
      delivered.synchronized { delivered.add(qe); delivered.notifyAll() }

    /** Waits (at most a minute) until `qe`'s execution end is delivered. */
    def await(qe: QueryExecution): Unit = delivered.synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (!delivered.contains(qe) && System.currentTimeMillis() < deadline)
        delivered.wait(100)
    }
  }

  final case class QueryProfile(query: String, rows: Long, wallS: Double,
      buildS: Double, planS: Double, execS: Double, jobs: Seq[Job],
      counters: Seq[(String, Long)]) {
    def buildJobs: Seq[Job] = jobs.filter(_.phase == "build")
    def execJobs: Seq[Job] = jobs.filter(_.phase == "exec")

    def json: String = {
      def sum(f: Job => Long): Long = execJobs.map(f).sum
      obj("query" -> str(query), "rows" -> rows, "wall_s" -> sec(wallS),
        "build_s" -> sec(buildS), "build_jobs" -> buildJobs.size,
        "plan_s" -> sec(planS), "exec_s" -> sec(execS),
        "exec_jobs" -> execJobs.size, "stages" -> sum(_.stages),
        "tasks" -> sum(_.tasks), "task_s" -> sec(sum(_.taskMs) / 1e3),
        "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "output_bytes" -> sum(_.outputBytes), "spill_bytes" -> sum(_.spillBytes),
        "jobs" -> jobs.map(j => obj("id" -> j.id, "phase" -> str(j.phase),
          "s" -> sec((j.endMs - j.submitMs) / 1e3), "stages" -> j.stages,
          "tasks" -> j.tasks, "site" -> str(j.site))).mkString("[", ",", "]"),
        "counters" -> obj(counters: _*))
    }
  }

  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  // locale-pinned: a comma-decimal JVM locale would print invalid JSON
  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Warms up and profiles one query; `rec` must be registered on `spark`. */
  def profile(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame, rec: Recorder): QueryProfile = {
    val sc = spark.sparkContext
    def phase[A](p: String)(body: => A): A = {
      sc.setLocalProperty(PhaseKey, p)
      try body finally sc.setLocalProperty(PhaseKey, null)
    }
    fn(spark, dir).count()
    spark.catalog.clearCache()
    rec.reset()
    val before = Counters.snapshot(spark)
    val t0 = System.nanoTime()
    val df = phase("build")(fn(spark, dir))
    val t1 = System.nanoTime()
    // what Dataset.count() runs, with its QueryExecution in hand: forcing
    // executedPlan runs the Catalyst phases the action would run on entry,
    // so the timed action is execution alone
    val counted = df.groupBy().count()
    val qe = counted.queryExecution
    qe.executedPlan
    val t2 = System.nanoTime()
    val rows = phase("exec")(counted.collect()(0).getLong(0))
    val t3 = System.nanoTime()
    rec.await(qe)
    spark.catalog.clearCache()
    val counters = Counters.snapshot(spark).toSeq.sorted
      .map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0)
    QueryProfile(name, rows, (t3 - t0) / 1e9, (t1 - t0) / 1e9,
      qe.tracker.phases.values.map(_.durationMs).sum / 1e3, (t3 - t2) / 1e9,
      rec.jobs.values.asScala.toSeq.sortBy(_.id), counters)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [query ...]")
    val names = if (args.length > 1) args.toSeq.tail
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Sessions.local("graft-profile")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    // an unknown name fails like a failing query: a scripted run must not
    // read a short output as success
    val failed = names.filterNot { name =>
      try { println(profile(spark, args.head, name, graft.SparkEntry.queries(name), rec).json); true }
      catch { case e: Exception => System.err.println(s"[profile] $name FAILED: $e"); false }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
