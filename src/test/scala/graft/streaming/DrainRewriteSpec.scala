package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The one-shot stream drains (st0, st5, st6, st7, st8, sk3, sk5) run as
  * batch plans. Each test here runs the SAME body as a real Structured
  * Streaming query — uncapped file source over the events table, fresh
  * checkpoint, Trigger.AvailableNow — and proves the batch plan row- and
  * schema-equal to that execution. st9's batch twin is proved against
  * its own stream path through [[NearDupStream.run]].
  */
class DrainRewriteSpec extends graft.SparkSpec {

  /** Drain `dir`'s events table once through `sink` as a Structured
    * Streaming query: the file-source layout the drain queries read (a
    * leaf FILE named events.parquet), a fresh checkpoint, AvailableNow.
    */
  private def drainEvents(dir: String)(sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val src = graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    val ckpt = Files.createTempDirectory("graft-drain-ckpt").toString
    val q = sink(src)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }

  /** [[drainEvents]] of `body` into a memory sink: the drained rows. */
  private def drained(dir: String, mode: OutputMode)(body: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_drain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    drainEvents(dir)(src =>
      body(src).writeStream.outputMode(mode).format("memory").queryName(name))
    spark.table(name)
  }

  // same column names+types, same row multiset (both sides are then also
  // pinned by the DuckDB oracle); nullability is NOT compared — a lazy
  // batch plan keeps non-null aggregate outputs where a sink round-trip
  // erases them, and the oracle never sees nullability
  private def snap(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq,
      df.collect().map(_.toString).sorted.toSeq)
  /** Returns the number of drained rows. */
  private def assertSameDrain(batch: DataFrame, streamed: DataFrame,
      allowEmpty: Boolean = false): Int = {
    val (bs, br) = snap(batch)
    val (ss, sr) = snap(streamed)
    assert(bs == ss)
    assert(allowEmpty || br.nonEmpty)
    assert(br == sr)
    br.size
  }

  test("st5 rewrite drain equals the stateful drain exactly") {
    import EventStream._
    assertSameDrain(intervalJoinStreaming(spark, sf001),
      drained(sf001, OutputMode.Append()) { src =>
        intervalJoinProject(
          clicksOf(src).withWatermark("cts", "1 hour")
            .join(errorsOf(src).withWatermark("ets", "1 hour"), intervalJoinCond))
      })
  }

  test("sk3 rewrite drain equals the stateful foreachBatch drain exactly") {
    // per-batch cells appended by foreachBatch, cell-summed on read-back
    // (CMS linearity) — the incremental maintenance shape
    val cells = Files.createTempDirectory("graft-drain-cms").toString + "/cells"
    drainEvents(sf001)(_.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      SketchStream.cmsCells(b, 1024).write.mode("append").parquet(cells)
    })
    assertSameDrain(SketchStream.countMinStreaming(spark, sf001),
      spark.read.parquet(cells)
        .groupBy(col("row"), col("bucket")).agg(sum(col("n")).as("n")))
  }

  test("st0 rewrite drain equals the stateful Complete-mode window agg exactly") {
    assertSameDrain(EventStream.windowAggStreaming(spark, sf001),
      drained(sf001, OutputMode.Complete())(src =>
        EventStream.windowAggBatch(src.withWatermark("ts", "1 hour"))))
  }

  test("st8 rewrite drain equals the stateful enrichment drain exactly") {
    assertSameDrain(EventStream.streamStaticEnrich(spark, sf001),
      drained(sf001, OutputMode.Complete())(EventStream.enrichAggOf(spark, sf001, _)))
  }

  test("sk5 rewrite drain equals the stateful HLL register drain exactly") {
    assertSameDrain(SketchStream.hllStreaming(spark, sf001),
      drained(sf001, OutputMode.Complete())(SketchStream.userRegisters))
  }

  /** A stateful sessionizer (gap 30 min) drained once over `dir`. */
  private def sessionsDrained(dir: String)(
      sessionize: (Dataset[EventStream.Ev], Int) => Dataset[_]): DataFrame = {
    import spark.implicits._
    drained(dir, OutputMode.Append())(src => sessionize(
      src.select(col("user_id"), col("ts"), col("event_id")).as[EventStream.Ev], 30).toDF())
  }
  private def st6Drained(dir: String) = sessionsDrained(dir)(EventStream.sessionizeStreaming)
  private def st7Drained(dir: String) =
    sessionsDrained(dir)(EventStream.sessionizeStreamingEventTime(_, _))

  test("st6 rewrite drain equals the stateful sessionizer exactly") {
    assertSameDrain(EventStream.sessionizeStreamingFromDir(spark, sf001, 30),
      st6Drained(sf001))
  }

  test("st7 rewrite drain equals the stateful event-time-timeout sessionizer exactly") {
    assertSameDrain(EventStream.sessionizeStreamingEventTimeFromDir(spark, sf001, 30),
      st7Drained(sf001))
  }

  private val gapMs = 30 * 60000L
  private val base = 1700000000000L

  /** Write (event_id, user_id, ts_ms) rows SHUFFLED as an events table
    * under a fresh dir, so the stateful iterator sees out-of-order
    * arrival. The drivers' pathGlobFilter matches a leaf FILE named
    * events.parquet (the testdata layout), so the single part file is
    * promoted to that name.
    */
  private def writeEvents(rows: Seq[(Long, Long, Long)], seed: Long): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sess-twin").toString
    new scala.util.Random(seed).shuffle(rows)
      .map { case (id, uid, t) => (id, new Timestamp(t), uid, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/__stage")
    val part = new java.io.File(s"$dir/__stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  /** One user's events: successive gaps drawn from the boundary values
    * (0 = a ts tie, exactly the gap — not a break, gap + 1 ms — a break,
    * and either side of them) plus arbitrary in-session and idle gaps.
    * Single-event users come from `n = 1`.
    */
  private val genUserTimes: Gen[List[Long]] = for {
    n <- Gen.frequency(2 -> Gen.const(1), 5 -> Gen.choose(2, 7))
    start <- Gen.choose(0L, 3 * gapMs)
    gaps <- Gen.listOfN(n - 1, Gen.oneOf(
      Gen.const(0L), Gen.const(1L), Gen.const(gapMs - 1), Gen.const(gapMs),
      Gen.const(gapMs + 1), Gen.choose(2L, gapMs - 2), Gen.choose(gapMs + 2, 3 * gapMs)))
  } yield gaps.scanLeft(base + start)(_ + _)

  /** A generated events table: 1-8 users, then one last event exactly
    * gap − 1, gap or gap + 1 ms after the table's latest one, from a new
    * user or from the latest event's user — st7's close rule (end + gap
    * <= max ts) at its boundary. Event ids are a random permutation, so
    * ts ties are broken by an event_id order unrelated to file order.
    */
  private val genEvents: Gen[Seq[(Long, Long, Long)]] = for {
    times <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, genUserTimes))
    lastGap <- Gen.oneOf(gapMs - 1, gapMs, gapMs + 1)
    sameUser <- Gen.oneOf(true, false)
    permSeed <- Gen.long
  } yield {
    val flat = times.zipWithIndex.flatMap { case (ts, u) => ts.map(t => (u + 1L, t)) }
    val (lastUser, lastT) = flat.maxBy(_._2)
    val all = flat :+ (if (sameUser) lastUser else times.size + 1L, lastT + lastGap)
    val ids = new scala.util.Random(permSeed).shuffle((1L to all.size.toLong).toList)
    all.zip(ids).map { case ((uid, t), id) => (id, uid, t) }
  }

  test("st6/st7 twins match the stateful drains on adversarial session shapes") {
    // a hand-picked corpus: ts ties broken by event_id, a gap of EXACTLY
    // the threshold (not a break — strictly-greater), a user whose last
    // event IS the global max (st7: stays open; st6: emitted unless it's
    // their only session), and single-session users (st6: nothing); the
    // generated tables add a last event exactly gap ± 1 ms after the rest
    // (st7: end + gap <= wm closes)
    val corpus = Seq(
      // user 1: two sessions, both closed in st7
      (1L, 1L, base), (2L, 1L, base + 1000),
      (3L, 1L, base + 1000 + gapMs + 1), // breaks (gap exceeded by 1ms)
      // user 2: gap EXACTLY at threshold — same session (strictly greater breaks)
      (4L, 2L, base), (5L, 2L, base + gapMs),
      // user 3: ts tie with distinct event_ids, then the GLOBAL MAX event
      (6L, 3L, base + 500), (7L, 3L, base + 500),
      (8L, 3L, base + 2 * gapMs + 1000 + gapMs + 1), // their 2nd session holds the max
      // user 4: single event (one session only)
      (9L, 4L, base + 42))
    // ...then seeded generated tables (pinned seeds, the PropertySpec
    // convention: the scalatest-scalacheck bridge is not in the build)
    val generated = (0 until 8).map(i => genEvents.pureApply(Gen.Parameters.default, Seed(7L + i)))
    val emitted = (corpus +: generated).zipWithIndex.map { case (rows, i) =>
      val dir = writeEvents(rows, seed = i.toLong)
      withClue(s"events $rows: ") {
        // the corpus (index 0) must emit from both drains; a generated
        // table may not: st6 emits nothing for a table of single-session
        // users, st7 nothing when every session ends within the gap of
        // the max
        (assertSameDrain(EventStream.sessionizeStreamingFromDir(spark, dir, 30),
          st6Drained(dir), allowEmpty = i > 0),
          assertSameDrain(EventStream.sessionizeStreamingEventTimeFromDir(spark, dir, 30),
            st7Drained(dir), allowEmpty = i > 0))
      }
    }
    // the generated tables are not degenerate: both drains emit sessions
    assert(emitted.tail.map(_._1).sum > 0 && emitted.tail.map(_._2).sum > 0)
  }

  test("st9 one-shot drain runs the batch twin; its state/output resume incrementally") {
    // NearDupStream's twin preserves the ExactlyOnceBatches product:
    // both paths call the SAME processBatch (state first, output,
    // marker), so the twin's artifacts must be indistinguishable to a
    // later incremental run — that, not just the admitted set, is the
    // equality the twin claims
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-neardup-twin").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val A = "the quick brown fox jumps over the lazy dog tonight"
    val B = "completely different content about spark shuffles and parquet footers"
    Seq(1L -> A, 2L -> A, 3L -> B).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/feed")
    def runTo(tag: String, feed: String = s"$base/feed", twin: Boolean = true) =
      NearDupStream.run(spark,
        spark.readStream.schema(schema).parquet(feed), "doc_id", "text",
        s"$base/$tag/state", s"$base/$tag/out",
        batchTwin = if (twin) Some(spark.read.parquet(feed)) else None)
    // a twin offered → batch path; none → the real foreachBatch stream
    val nTwin = runTo("twin")
    val nStream = runTo("stream", twin = false)
    assert(nTwin == 2 && nStream == 2)
    def outSet(tag: String) = spark.read.parquet(s"$base/$tag/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outSet("twin") == outSet("stream"))
    // protocol artifacts equal: same schemas, same committed band state
    // (modulo the run-scoped __batch key)
    assert(spark.read.parquet(s"$base/twin/state").schema ==
      spark.read.parquet(s"$base/stream/state").schema)
    assert(spark.read.parquet(s"$base/twin/out").schema ==
      spark.read.parquet(s"$base/stream/out").schema)
    def stateSet(tag: String) = spark.read.parquet(s"$base/$tag/state")
      .select("band", "bucket").as[(Int, String)].collect().toSet
    assert(stateSet("twin") == stateSet("stream"))
    // incremental resume OVER the twin-written state: a new feed's dup
    // of A is suppressed by batch-1's committed bands, the novel doc
    // passes — prior state is judged, so the twin stays legal beyond
    // the first run (it never requires fresh state)
    Seq(4L -> A, 5L -> "yet another unrelated subject entirely here now")
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$base/feed2")
    val n2 = runTo("twin", s"$base/feed2")
    assert(n2 == 1)
    assert(outSet("twin") == Set(1L, 3L, 5L))
  }
}
