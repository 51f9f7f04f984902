package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `registry`: the oracle-gated analytic operators of
  * [[SparkEntry.queries]] over the registry's test tables, warm.
  *
  * The timed set is a fixed slice of the registry: every
  * [[Stride]]-th query by name within each registry object, so every
  * object (relational, statement ops, training data, streaming, graph,
  * sketch) is in it. A pass runs the slice in a seeded order and times
  * each query as build (the `queries(name)(spark, dir)` call), plan
  * (`executedPlan`) and execute. Execution produces every output column:
  * it folds each row's hash of all columns into an order-insensitive
  * digest, so Catalyst cannot prune columns the way `count()` lets it.
  * The row count and digest are checked against `registry_expected.tsv`.
  */
object Registry {
  val Stride = 15

  val Objects: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> graft.queries.Relational.queries,
    "statement_ops" -> graft.queries.StatementOps.queries,
    "training_data" -> graft.queries.TrainingData.queries,
    "streaming_ops" -> graft.queries.StreamingOps.queries,
    "graph_ops" -> graft.queries.GraphOps.queries,
    "sketch_ops" -> graft.queries.SketchOps.queries)

  /** (query, object) of the timed slice. */
  def slice: Seq[(String, String)] = Objects.flatMap { case (obj, qs) =>
    qs.keys.toSeq.filter(SparkEntry.queries.contains).sorted.zipWithIndex
      .collect { case (name, i) if i % Stride == 0 => name -> obj }
  }

  /** Hashable form of a column: floating values rounded, so a different
    * summation order cannot change the digest; maps as sorted entries.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(_, _, _) => array_sort(map_entries(c)).cast(StringType)
    case s: StructType => struct(s.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** One row: (rows, sum of low hash halves, sum of high hash halves). */
  def digest(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)) :+ lit(1): _*)
    df.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
  }

  val ObjectMeasures = Seq("build_s" -> "s", "build_jobs" -> "count", "plan_s" -> "s",
    "exec_s" -> "s", "exec_jobs" -> "count", "tasks" -> "count", "task_s" -> "s",
    "shuffle_bytes" -> "B")

  final case class Timing(build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  def runQuery(spark: SparkSession, dir: String, name: String, tr: Trace): (Timing, String) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df = tr.span(s"qb:$name")(fn(spark, dir))
    val t1 = System.nanoTime()
    val d = tr.span(s"qp:$name") { val d = digest(df); d.queryExecution.executedPlan; d }
    val t2 = System.nanoTime()
    val r = tr.span(s"qe:$name")(d.collect()(0))
    val t3 = System.nanoTime()
    spark.catalog.clearCache()
    (Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9),
      s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}")
  }

  def expectedFile(run: Main.Run): java.nio.file.Path =
    Paths.get(run.data).getParent.resolve("registry_expected.tsv")

  def expected(run: Main.Run): Map[String, String] =
    Files.readAllLines(expectedFile(run)).asScala.filterNot(_.startsWith("#"))
      .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap

  def apply(run: Main.Run): Unit = {
    val gen = new Gen(run.seed)
    val qs = slice
    val want = expected(run)
    // set-up: one untimed pass over the slice, so JIT and codegen are
    // warm and the session-scoped fixtures the slice reads are staged
    val t0 = System.nanoTime()
    val spark = run.spark
    qs.foreach { case (n, o) => runQuery(spark, run.data, n, Trace.off) }
    run.metric("setup_s", Main.secondsSince(t0), "s")

    val timings = Vector.newBuilder[(String, String, Timing)]
    val passes = Main.window(run) { i =>
      val order = gen.shuffle(qs)
      if (i == 0) run.context("first_queries") = order.take(3).map(_._1).mkString(",")
      order.map { case (n, o) =>
        val (t, dig) = runQuery(spark, run.data, n, run.trace)
        run.check(want.get(n).contains(dig), s"$n digest $dig != ${want.get(n)}")
        timings += ((n, o, t))
        t.total
      }.sum
    }
    val ts = timings.result()
    run.metric("pass_s", Main.median(passes.map(_._2)), "s")
    Main.opLatency(run, ts.map(_._3.total * 1e3))
    run.context("queries") = qs.size.toString

    // per-layer: per-object sums per traced pass
    val tot = run.trace.totals
    val traced = math.max(passes.count(_._1), 1).toDouble
    def t(kind: String, n: String) = tot.getOrElse(s"$kind:$n", new Trace.Totals)
    for ((obj, _) <- Objects) {
      val names = qs.collect { case (n, `obj`) => n }
      def sum(f: String => Double) = names.map(f).sum / traced
      run.metric(s"queries.$obj.build_s", sum(t("qb", _).s), "s")
      run.metric(s"queries.$obj.build_jobs", sum(t("qb", _).jobs.toDouble), "count")
      run.metric(s"queries.$obj.plan_s", sum(t("qp", _).s), "s")
      run.metric(s"queries.$obj.exec_s", sum(t("qe", _).s), "s")
      run.metric(s"queries.$obj.exec_jobs", sum(t("qe", _).jobs.toDouble), "count")
      val all = Seq("qb", "qp", "qe")
      run.metric(s"queries.$obj.tasks", sum(n => all.map(t(_, n).tasks.toDouble).sum), "count")
      run.metric(s"queries.$obj.task_s", sum(n => all.map(t(_, n).taskS).sum), "s")
      run.metric(s"queries.$obj.shuffle_bytes",
        sum(n => all.map(t(_, n).shuffleBytes.toDouble).sum), "B")
    }
    run.metric("queries.single_task_queries", qs.count { case (n, _) =>
      val e = t("qe", n); e.jobs > 0 && e.singleTaskJobs == e.jobs
    }.toDouble, "count")
  }

  /** Writes `registry_expected.tsv` from one pass over the slice. */
  def record(run: Main.Run): Unit = {
    val lines = slice.map { case (n, o) => s"$n\t${runQuery(run.spark, run.data, n, Trace.off)._2}" }
    Files.write(expectedFile(run),
      ("# query\trows:sum(low32 xxhash64):sum(high32 xxhash64)" +: lines).asJava)
  }
}
