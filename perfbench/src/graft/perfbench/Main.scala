package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload ingest|serve|registry --seed N
  * --seconds S --trace 0|1 --work DIR --data DIR --out FILE`.
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (name → value, unit) and `context`. `perfbench/run.py`
  * builds the classes, starts this JVM and prints the object.
  */
object Main {

  final class Run(val seed: Long, val seconds: Double, val trace: Trace,
      val work: String, val data: String, val spark: SparkSession) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val context = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    /** Counts one timed operation; a wrong result counts as failed. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    }

    def dir(name: String): String = {
      val p = Paths.get(work, name); Files.createDirectories(p); p.toString
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    Files.createDirectories(Paths.get(work))
    val cpus = opt.getOrElse("cpus", "2")
    val t0 = System.nanoTime()
    val b = SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload")
    // every file the run writes stays under the work dir
    graft.Sessions.configure(b, cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.stage.dir", s"$work/stage")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (opt("trace") == "1") Trace.on(spark.sparkContext) else Trace.off
    val run = new Run(opt("seed").toLong, opt("seconds").toDouble, trace, work,
      opt.getOrElse("data", ""), spark)
    run.context("session_s") = f"$sessionS%.3f"
    run.context("cpus") = cpus
    workload match {
      case "record-registry" => Registry.record(run)
      case "ingest" => Ingest(run)
      case "serve" => Serve(run)
      case "registry" => Registry(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.metric("peak_rss_mb", peakRssMb(), "MB")
    // after the workload, so the probe runs on a warm JVM
    val probe = calibrate(spark)
    run.context("probe") = "range200M_sum_mod97"
    run.context("probe_s") = f"$probe%.4f"
    run.context("hot_host") = (probe > QuietProbeS * 1.5).toString
    emitCallSpans(run, trace.totals)
    // per-layer metrics of layers this workload does not enter read 0
    for ((name, unit) <- WorkloadLayers if !run.metrics.contains(name))
      run.metric(name, 0.0, unit)
    if (run.failures.nonEmpty) run.context("failures") = run.failures.mkString(" | ")
    Files.writeString(Paths.get(opt("out")), toJson(run))
    spark.stop()
  }

  /** graft.Bench's host probe: a fixed 200M-row modular sum whose time
    * moves only when the host does. A run whose probe exceeds 1.5× the
    * quiet 4-core reference is stamped `hot_host`.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 32).selectExpr("sum(id % 97)").collect()
    secondsSince(t0)
  }
  val QuietProbeS = 0.27

  /** The process's high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Per-layer metrics only one workload measures. */
  val WorkloadLayers: Seq[(String, String)] =
    Seq("lake.write_amp" -> "ratio", "lake.store_files" -> "count",
      "lake.store_bytes_per_input_byte" -> "ratio", "trace.overhead_pct" -> "%") ++
      Registry.Objects.flatMap { case (obj, _) => Registry.ObjectMeasures.map {
        case (m, u) => s"queries.$obj.$m" -> u } } :+
      ("queries.single_task_queries" -> "count")

  /** The fixed span set of the per-layer metrics. */
  val CallSpans = Seq("lake.add", "lake.flush", "lake.delete", "lake.optimize",
    "ops.make", "api.lookup", "api.search", "api.write")

  /** Per-call means of every measure of the call spans; a span the
    * workload never enters reads 0.
    */
  def emitCallSpans(run: Run, totals: Map[String, Trace.Totals]): Unit =
    for (name <- CallSpans) {
      val t = totals.getOrElse(name, new Trace.Totals)
      val n = math.max(t.calls, 1L).toDouble
      run.metric(s"$name.s", t.s / n, "s")
      run.metric(s"$name.spark_s", t.sparkS / n, "s")
      run.metric(s"$name.jobs", t.jobs / n, "count")
      run.metric(s"$name.tasks", t.tasks / n, "count")
      run.metric(s"$name.task_s", t.taskS / n, "s")
      run.metric(s"$name.in_bytes", t.inBytes / n, "B")
      run.metric(s"$name.out_bytes", t.outBytes / n, "B")
      run.metric(s"$name.shuffle_bytes", t.shuffleBytes / n, "B")
      if (t.calls > 0) run.context(s"$name.calls") = t.calls.toString
      if (name == "api.lookup" || name == "api.search")
        run.metric(s"$name.rows_read_per_result",
          t.inRows.toDouble / math.max(t.results, 1L), "rows")
    }

  /** The latency metric of the workload's primary call. Its p90 is
    * context only: a run holds too few calls for a steady tail.
    */
  def opLatency(run: Run, ms: Seq[Double]): Unit = {
    run.metric("op_p50_ms", median(ms), "ms")
    run.context("op_p90_ms") = f"${quantile(ms, 0.9)}%.1f"
    run.context("op_calls") = ms.size.toString
  }

  /** Bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated quantile (the default of numpy and of
    * Python's `statistics.quantiles(method="inclusive")`).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The measured window: starts passes until `seconds` have elapsed, so
    * the pass count only changes when a pass crosses `seconds`. A traced run
    * makes at least three passes; after the first, they go traced,
    * untraced, untraced, traced, ... so the trace overhead is measured in
    * the same process on warm passes. `pass` returns
    * its own timed seconds, which leave out its output checks. Returns
    * each pass's (traced, seconds).
    */
  def window(run: Run)(pass: Int => Double): Seq[(Boolean, Double)] = {
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[(Boolean, Double)]
    val min = if (run.trace.enabled) 3 else 1
    var i = 0
    while (i < min || secondsSince(t0) < run.seconds) {
      val traced = run.trace.enabled && i > 0 && (i - 1) % 4 % 3 == 0
      val timed = if (traced || !run.trace.enabled) pass(i) else run.trace.pause(pass(i))
      out += traced -> timed
      i += 1
    }
    val passes = out.result()
    val (on, off) = passes.drop(1).partition(_._1)
    if (on.nonEmpty && off.nonEmpty)
      run.metric("trace.overhead_pct",
        100 * (on.map(_._2).sum / on.size / (off.map(_._2).sum / off.size) - 1), "%")
    passes
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def toJson(r: Run): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}"
    }.mkString("{", ",", "}")
    val ctx = r.context.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms,"context":$ctx}"""
  }
}
