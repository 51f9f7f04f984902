package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Sketches

/** Streaming sketch maintenance over the events table: the count-min
  * heavy-hitter estimator and per-event_type HyperLogLog registers of
  * [[graft.sketch.Sketches]] — the abuse/hot-key and cardinality shapes
  * that at 100 TB/day run as a stream, never as a batch rescan.
  *
  * Sketch state is constant-size and independent of stream volume: ≤
  * d×width count-min cells (linear, so per-batch cells SUM), and
  * group×64 HLL registers (a Complete-mode MAX, duplicate-insensitive,
  * so the stream needs no dedup before the aggregate).
  *
  * The one-shot drains sk3 and sk5 read the static events table once;
  * an AvailableNow drain of the uncapped file source is one batch, so
  * each runs as the batch plan of its body. The streaming spec drains
  * the same bodies as real Structured Streaming queries (sk3 per-batch
  * through foreachBatch, sk5 in Complete mode) and proves them equal.
  */
object SketchStream {

  /** One micro-batch's (or the whole table's) CMS cell counts (row,
    * bucket, n) over `user_id` occurrences. Groups by the NATIVE key
    * first (long hash-agg, no per-row string materialization), then
    * string-hashes only the distinct keys; hash collisions between
    * distinct uids re-sum in the cell aggregate, identically to hashing
    * per row. By CMS linearity the cell-sum over batches is the build
    * over their union.
    */
  private[streaming] def cmsCells(b: DataFrame, width: Int): DataFrame = {
    val keyed = b
      .groupBy(col("user_id")).agg(count(lit(1)).as("__n"))
      .select(graft.dedupe.Dedupe.tokenHash(
        col("user_id").cast("string")).as("__h"), col("__n"))
    keyed
      .select(col("__n"),
        explode(Sketches.cmsCellsFromHash(col("__h"), width)).as("__rb"))
      .groupBy(col("__rb.row").as("row"), col("__rb.bucket").as("bucket"))
      .agg(sum(col("__n")).as("n"))
  }

  /** sk3: the count-min sketch drained once over the events table — the
    * cells of the one batch, equal to the batch build bit for bit.
    */
  def countMinStreaming(spark: SparkSession, dir: String,
      width: Int = 1024): DataFrame =
    cmsCells(graft.Tables.events(spark, dir), width)

  /** Per-event_type HLL registers over distinct users. */
  private[streaming] def userRegisters(events: DataFrame): DataFrame =
    Sketches.hllRegisters(
      events.select(col("event_type"), col("user_id").cast("string").as("uid")),
      "event_type", "uid")

  /** sk5: the HLL registers drained once over the events table. The
    * Complete-mode MAX of the one batch is the batch aggregate (integer
    * max is order-exact), so the registers equal the batch
    * [[Sketches.hllRegisters]] build bit for bit.
    */
  def hllStreaming(spark: SparkSession, dir: String): DataFrame =
    userRegisters(graft.Tables.events(spark, dir))
}
