package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Encoders

import graft.api.{ApiLakeRepository, LakeHttpServer}
import graft.ops.EntityAssembly.EntityDoc
import graft.ops.Explode.EntityPayload

/** `serve`: HTTP entity reads with some writes, one closed-loop client.
  *
  * Set-up builds and optimizes a lake from seeded entities and starts
  * [[LakeHttpServer]] in-process. The client drives it through
  * [[ApiLakeRepository]] with no think time. A pass is a fixed mix in
  * seeded order: 70% lookups (`getEntity` over Zipf-skewed ids), 25%
  * searches (a schema plus property `eq` filter with limit 20, a schema
  * filter ordered by name with limit 50 and an offset, and
  * `statistics`) and 5% writes (50 new entities plus `flush`). Each
  * answer is checked against [[Model]].
  *
  * One client, not two: with two, each lookup's latency depended on
  * whether the other client was running a 17-job search, and lookup
  * latency spread more from run to run.
  */
object Serve {
  val LakeEntities = 2000
  val Lookups = 12
  val Searches = 4
  val Writes = 1
  val WriteBatch = 50

  sealed trait Op
  final case class Lookup(rank: Double, fresh: Boolean) extends Op
  final case class Filter(country: String) extends Op
  final case class Page(offset: Int) extends Op
  case object Statistics extends Op
  case object Write extends Op

  final class State(val gen: Gen, val model: Model) {
    val ids = mutable.ArrayBuffer.empty[String]
    var lastWritten = IndexedSeq.empty[String]
  }

  /** One pass's ops, in seeded order. */
  def ops(gen: Gen): Vector[Op] = gen.shuffle(
    Vector.fill(Lookups)(Lookup(gen.nextDouble(), gen.nextInt(10) == 0)) ++
      (0 until Searches).map {
        case i if i % 4 == 0 => Filter(gen.country())
        case i if i % 4 < 3 => Page(gen.nextInt(200))
        case _ => Statistics
      } ++ Vector.fill(Writes)(Write))

  /** Zipf-skewed pick: rank `u` in [0,1) maps to position ~ n^u - 1. */
  private def skewed(ids: collection.IndexedSeq[String], u: Double): String =
    ids(math.min(ids.size - 1, (math.pow(ids.size + 1.0, u) - 1).toInt))

  private def sameDoc(d: EntityDoc, schema: String, props: Map[String, Set[String]]): Boolean =
    d.schema == schema && d.properties.map { case (k, v) => k -> v.toSet } == props

  /** Runs one op; returns (class, latency ms, correct). */
  def call(op: Op, api: ApiLakeRepository, s: State, tr: Trace): (String, Double, Boolean) = {
    val t0 = System.nanoTime()
    def ms = Main.secondsSince(t0) * 1e3
    op match {
      case Lookup(u, fresh) =>
        val id = if (fresh && s.lastWritten.nonEmpty) skewed(s.lastWritten, u)
          else skewed(s.ids, u)
        val doc = tr.span("api.lookup")(api.getEntity(id))
        val t = ms
        tr.results("api.lookup", doc.size.toLong)
        val st = s.model.entities(id)
        ("lookup", t, doc.exists(d => d.id == id && sameDoc(d, st.schema, st.values.toMap)))
      case Filter(c) =>
        val rql = s"""and(eq(schema, "Person"), eq(nationality, "$c"))"""
        val docs = tr.span("api.search")(api.query(rql, limit = Some(20)).toVector)
        val t = ms
        tr.results("api.search", docs.size.toLong)
        val matching = s.model.live.count { case (_, st) =>
          st.schema == "Person" && st.values.get("nationality").exists(_(c))
        }
        ("search", t, docs.size == math.min(20, matching) && docs.forall { d =>
          s.model.entities.get(d.id).exists(st => !st.deleted &&
            sameDoc(d, st.schema, st.values.toMap) && st.values("nationality")(c))
        })
      case Page(off) =>
        val docs = tr.span("api.search")(api.query("""eq(schema, "Company")""",
          orderBy = Seq("name"), limit = Some(50), offset = off).toVector)
        val t = ms
        tr.results("api.search", docs.size.toLong)
        val expected = s.model.live.collect {
          case (id, st) if st.schema == "Company" => (st.values("name").min, id)
        }.toVector.sorted.slice(off, off + 50).map(_._2)
        ("search", t, docs.map(_.id) == expected && docs.forall { d =>
          val st = s.model.entities(d.id); sameDoc(d, st.schema, st.values.toMap)
        })
      case Statistics =>
        val stats = tr.span("api.search")(api.statistics)
        val t = ms
        tr.results("api.search", stats.size.toLong)
        ("search", t, normStats(stats) == expectedStats(s.model))
      case Write =>
        val batch = s.gen.entities(WriteBatch)
        tr.span("api.write") { api.addEntities(batch); api.flush() }
        val t = ms
        batch.foreach(s.model.add)
        s.ids ++= batch.map(_.id)
        s.lastWritten = batch.map(_.id)
        ("write", t, true)
    }
  }

  /** `statistics` as the model predicts it: per schema and per country,
    * (entities, statements). The facet key of a schema ends in its name.
    */
  def expectedStats(m: Model): Map[(String, String), (Long, Long)] = {
    val out = mutable.Map.empty[(String, String), (Long, Long)]
    def bump(k: (String, String), stmts: Long): Unit = {
      val (e, n) = out.getOrElse(k, (0L, 0L)); out(k) = (e + 1, n + stmts)
    }
    m.live.foreach { case (_, st) =>
      bump(("schemata", st.schema), st.statements)
      Seq("nationality", "jurisdiction").flatMap(p => st.values.getOrElse(p, Set.empty))
        .distinct.foreach(c => bump(("countries", c), Seq("nationality", "jurisdiction")
          .count(p => st.values.getOrElse(p, Set.empty)(c)).toLong))
    }
    out.toMap
  }

  private def normStats(raw: Map[(String, String), (Long, Long)]) =
    raw.map { case ((f, k), v) => (f, if (f == "schemata") k.split('/').last else k) -> v }

  def apply(run: Main.Run): Unit = {
    val spark = run.spark
    val t0 = System.nanoTime()
    val gen = new Gen(run.seed)
    val model = new Model
    val root = run.dir("serve-lake")
    val cat = new graft.lake.Catalog(spark, root)
    cat.ensureDataset("bench")
    val repo = new graft.lake.LakeRepository(spark, cat.datasetPath("bench").toString, "bench")
    val initial = gen.entities(LakeEntities)
    repo.addEntities(spark.createDataset(initial)(Encoders.product[EntityPayload]))
    repo.flush()
    repo.optimize()
    initial.foreach(model.add)
    val state = new State(gen, model)
    state.ids ++= gen.shuffle(initial.map(_.id))
    run.context("id_tag") = gen.tag
    run.context("lake_build_s") = f"${Main.secondsSince(t0)}%.3f"
    run.context("lake_bytes") = Main.dirBytes(root).toString
    run.context("lake_rows") = model.liveStatements.toString

    // set-up step, repeated: start the server and answer a first lookup
    var server: LakeHttpServer = null
    val starts = (0 until 3).map { i =>
      if (server != null) server.stop()
      val t1 = System.nanoTime()
      server = new LakeHttpServer(spark, root)
      val api = new ApiLakeRepository(s"http://127.0.0.1:${server.start()}", "bench", None)
      run.check(api.getEntity(state.ids(i)).isDefined, s"first lookup ${state.ids(i)}")
      Main.secondsSince(t1)
    }
    val api = new ApiLakeRepository(s"http://127.0.0.1:${server.boundPort}", "bench", None)
    // warm every search class, untimed (the starts warmed lookups)
    for (op <- Seq(Filter("de"), Page(0), Statistics)) {
      val (cls, _, ok) = call(op, api, state, Trace.off)
      run.check(ok, s"warm-up $cls wrong")
    }
    run.metric("setup_s", Main.secondsSince(t0) - starts.sum + Main.median(starts), "s")

    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val passes = Main.window(run) { _ =>
      val tp = System.nanoTime()
      for (op <- ops(gen)) {
        val (cls, ms, ok) = call(op, api, state, run.trace)
        run.check(ok, s"$cls wrong"); lat += cls -> ms
      }
      Main.secondsSince(tp)
    }
    run.metric("pass_s", Main.median(passes.map(_._2)), "s")
    run.context("passes") = passes.size.toString
    run.context("ops_per_s") = f"${lat.size / passes.map(_._2).sum}%.3f"
    server.stop()
    val lookups = lat.collect { case ("lookup", ms) => ms }.toSeq
    val searches = lat.collect { case ("search", ms) => ms }.toSeq
    Main.opLatency(run, lookups)
    run.context("search_p50_ms") = f"${Main.median(searches)}%.1f"
    run.context("search_p75_ms") = f"${Main.quantile(searches, 0.75)}%.1f"
  }
}
