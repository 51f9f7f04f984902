package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Encoders

import graft.lake.{Catalog, LakeRepository}
import graft.ops.Explode.EntityPayload

/** `ingest`: the lake write path and the exports, one caller.
  *
  * A pass builds a fresh dataset from seeded entities: `addEntities` in
  * 10k-entity batches, a final `flush`, an update round re-emitting 10%
  * of the entities with one changed value, `deleteEntity` calls,
  * `optimize`, then `make` into a fresh directory. The output checks run
  * after the pass, outside its timing.
  */
object Ingest {
  val Batch = 1000
  val Entities = 4000
  val Deletes = 3
  val UpdateShare = 0.10

  private val enc = Encoders.product[EntityPayload]

  def newRepo(run: Main.Run, name: String): LakeRepository = {
    val cat = new Catalog(run.spark, run.dir(name))
    cat.ensureDataset("bench")
    new LakeRepository(run.spark, cat.datasetPath("bench").toString, "bench")
  }

  final case class Pass(wall: Double, addMs: Seq[Double], ingestS: Double,
      statements: Long, payloadBytes: Long, repo: LakeRepository, model: Model) {
    var storeFiles = 0L
    var storeBytes = 0L
  }

  /** One full lake cycle over `n` fresh entities. */
  def pass(run: Main.Run, gen: Gen, name: String, n: Int): Pass = {
    val tr = run.trace
    val spark = run.spark
    val model = new Model
    val fresh = gen.entities(n)
    val updates = gen.shuffle(fresh).take((n * UpdateShare).toInt).map(gen.changed)
    var payloadBytes = 0L
    val repo = newRepo(run, name)
    val addMs = Vector.newBuilder[Double]
    def add(batch: Seq[EntityPayload]): Unit = {
      val ds = spark.createDataset(batch)(enc)
      val t0 = System.nanoTime()
      tr.span("lake.add")(repo.addEntities(ds))
      addMs += Main.secondsSince(t0) * 1e3
      batch.foreach { e => model.add(e); payloadBytes += Gen.ndjsonBytes(e) }
    }
    val t0 = System.nanoTime()
    fresh.grouped(Batch).foreach(add)
    tr.span("lake.flush")(repo.flush())
    val ingestS = Main.secondsSince(t0)
    updates.grouped(Batch).foreach(add)
    tr.span("lake.flush")(repo.flush())
    val victims = gen.shuffle(model.liveIds).take(Deletes)
    victims.foreach { id =>
      val n = tr.span("lake.delete")(repo.deleteEntity(id))
      run.check(n == model.entities(id).statements, s"delete $id tombstoned $n rows")
      model.delete(id)
    }
    tr.span("lake.optimize")(repo.optimize())
    tr.span("ops.make")(repo.make(run.dir(s"$name-export")))
    val wall = Main.secondsSince(t0)
    Pass(wall, addMs.result(), ingestS, n * 6L, payloadBytes, repo, model)
  }

  /** Output checks of a finished pass; every mismatch counts as failed. */
  def verify(run: Main.Run, p: Pass, exportDir: String): Unit = run.trace.pause {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val counts = p.repo.live.agg(count(lit(1)), countDistinct(col("entity_id"))).collect()(0)
    val (liveRows, liveEntities) = (counts.getLong(0), counts.getLong(1))
    val rawRows = p.repo.store.raw.count()
    run.check(liveRows == p.model.liveStatements,
      s"live statements $liveRows != ${p.model.liveStatements}")
    run.check(liveEntities == p.model.liveEntities,
      s"live entities $liveEntities != ${p.model.liveEntities}")
    run.check(rawRows == p.model.rawStatements,
      s"store rows $rawRows != ${p.model.rawStatements}")
    def lines(f: String): Long = {
      val s = Files.lines(Paths.get(exportDir, f)); try s.count() finally s.close()
    }
    run.check(lines("entities.ftm.json") == p.model.liveEntities,
      s"entities.ftm.json ${lines("entities.ftm.json")} != ${p.model.liveEntities}")
    run.check(lines("statements.csv") - 1 == rawRows,
      s"statements.csv ${lines("statements.csv") - 1} != $rawRows")
    val files = p.repo.store.raw.inputFiles
    p.storeFiles = files.length
    p.storeBytes = files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
  }

  def apply(run: Main.Run): Unit = {
    val spark = run.spark
    // set-up, repeated: open a fresh dataset and commit a first
    // 50-entity batch. The passes run cold after it, as each CLI
    // invocation of the lake does.
    val opens = (0 until 3).map { i =>
      val gen = new Gen(run.seed + 1000 + i)
      val batch = spark.createDataset(gen.entities(50))(enc)
      val t1 = System.nanoTime()
      val repo = newRepo(run, s"open-$i")
      repo.addEntities(batch)
      repo.flush()
      Main.secondsSince(t1)
    }
    run.metric("setup_s", Main.median(opens), "s")
    val passes = Vector.newBuilder[Pass]
    val walls = Main.window(run) { i =>
      val p = pass(run, new Gen(run.seed * 7919 + i), s"pass-$i", Entities)
      verify(run, p, s"${run.work}/pass-$i-export")
      passes += p
      p.wall
    }
    val ps = passes.result()
    run.metric("pass_s", Main.median(walls.map(_._2)), "s")
    // per-layer: bytes the lake wrote per payload byte over the traced
    // passes, and the store layout optimize left
    val tracedBytes = ps.zip(walls).collect { case (p, (true, _)) => p.payloadBytes }.sum
    val written = Seq("lake.add", "lake.flush", "lake.delete", "lake.optimize")
      .flatMap(run.trace.totals.get).map(_.outBytes).sum
    run.metric("lake.write_amp", written.toDouble / math.max(tracedBytes, 1L), "ratio")
    run.metric("lake.store_files", Main.median(ps.map(_.storeFiles.toDouble)), "count")
    run.metric("lake.store_bytes_per_input_byte",
      Main.median(ps.map(p => p.storeBytes.toDouble / p.payloadBytes)), "ratio")
    Main.opLatency(run, ps.flatMap(_.addMs))
    run.context("passes") = walls.size.toString
    run.context("id_tag") = new Gen(run.seed * 7919).tag
    run.context("payload_bytes") = ps.head.payloadBytes.toString
    run.context("store_bytes") = ps.head.storeBytes.toString
    run.context("store_rows") = ps.head.model.rawStatements.toString
    run.context("ingest_stmts_per_s") =
      f"${Main.median(ps.map(p => p.statements / p.ingestS))}%.1f"
  }
}
