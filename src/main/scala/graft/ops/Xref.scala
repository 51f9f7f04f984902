package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-reference candidate generation — the entity-resolution primitive
  * downstream of every FtM lake (what Aleph's xref does over lakehouse
  * exports): entities sharing normalized identifying values become match
  * candidates, scored by how many distinct keys they share.
  *
  * Scale shape (same as the LSH band join in [[graft.dedupe.Dedupe]]):
  * ONE shuffle on the blocking key, an in-task pair loop per block, and
  * blocks shared by more than `maxBlock` entities are dropped as
  * signal-free (a name like "john smith" matches everyone and identifies
  * no one — real xref stops-lists exactly these). The pair space is
  * block-bounded by construction, never quadratic in the corpus.
  */
object Xref {

  /** Candidate pairs from normalized key rows `(blockCol, idCol)`:
    * entities sharing at least `minShared` distinct blocks, each block
    * held by at most `maxBlock` entities. Output: (id_a, id_b, n_shared)
    * with id_a < id_b.
    */
  def candidates(keys0: DataFrame, blockCol: String, idCol: String,
      maxBlock: Int = 100, minShared: Int = 2): DataFrame = {
    val spark = keys0.sparkSession
    import spark.implicits._
    val skips = graft.functions.Counters.skips(spark, "xref")
    val keys = keys0
      .select(col(blockCol).cast("string"), col(idCol).cast("string"))
      .distinct()
    keys.as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_: String, rows: Iterator[(String, String)]) =>
        skips.capped(rows.map(_._2), maxBlock) { ids0 =>
          val ids = ids0.sorted
          for {
            i <- ids.indices.iterator
            j <- (i + 1 until ids.length).iterator
          } yield (ids(i), ids(j))
        }
      }
      .toDF("id_a", "id_b")
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Normalized blocking keys of the live view for the given identifying
    * properties: distinct `(__block, entity_id)` rows.
    */
  def normalizedKeys(live: DataFrame, props: Seq[String],
      normalize: Column => Column = identity): DataFrame =
    live.filter(col("prop").isin(props: _*))
      // a null normalized key carries no blocking signal and must not
      // block: concat_ws silently skips null args, which would collapse
      // every null-keyed row of a prop into one "<prop>" block and pair
      // them with each other (SQL NULL keys never join — match that)
      .filter(normalize(col("value")).isNotNull)
      .select(concat_ws(":", col("prop"), normalize(col("value"))).as("__block"),
        col("entity_id"))
      .distinct()

  /** Statement-grain entry point: block the live view on (prop,
    * normalize(value)) for the given identifying properties.
    */
  def fromLive(live: DataFrame, props: Seq[String],
      normalize: Column => Column = identity,
      maxBlock: Int = 100, minShared: Int = 2): DataFrame =
    candidates(normalizedKeys(live, props, normalize),
      "__block", "entity_id", maxBlock, minShared)

  /** Incremental xref: scored candidate pairs TOUCHING a changed entity
    * set, computed over dirty blocks only — the nightly-delta form of
    * [[scoredFromLive]].
    *
    * Correctness: a pair's shared-block count can differ from yesterday
    * only if a side changed, and EVERY shared block of such a pair
    * contains that changed entity — so every shared block is dirty
    * (dirty = holds a changed entity). Restricting the pair loop to
    * dirty blocks therefore preserves `n_shared`, the `maxBlock` cap
    * (block membership is unchanged by the restriction) and `minShared`
    * EXACTLY for touched pairs; old-old pairs inside dirty blocks are
    * undercounted and filtered out. The oracle twin states this as an
    * equivalence: incremental == full recompute ∩ touched.
    *
    * Scale shape: the changed set is a delta (small by contract); its
    * blocks arrive via one semi-join the optimizer broadcasts, the pair
    * loop runs only over dirty blocks, and the key-count aggregation for
    * scoring is restricted to the touched pair ids — on a quiet day the
    * whole recompute touches almost nothing of a 100 TB corpus.
    */
  def incrementalScoredFromLive(live: DataFrame, changedIds: DataFrame,
      props: Seq[String], normalize: Column => Column = identity,
      maxBlock: Int = 100, minShared: Int = 2): DataFrame = {
    // the key table is the hub of THREE downstream branches (dirty-block
    // discovery, the dirty pair loop, the score counts) — stage it once,
    // or each branch re-runs the normalize+distinct shuffle over the live
    // view; same for the touched pair set (two consumers)
    val keys = graft.functions.F.materialize(
      normalizedKeys(live, props, normalize))
    val changed = changedIds
      .select(col(changedIds.columns.head).cast("string").as("entity_id"))
      .distinct()
    val dirtyBlocks = keys.join(changed, Seq("entity_id"), "left_semi")
      .select(col("__block")).distinct()
    val keysD = keys.join(dirtyBlocks, Seq("__block"), "left_semi")
    val cand = candidates(keysD, "__block", "entity_id", maxBlock, minShared)
    val touched = graft.functions.F.materialize(cand
      .join(changed.select(col("entity_id").as("id_a"), lit(true).as("__ca")),
        Seq("id_a"), "left_outer")
      .join(changed.select(col("entity_id").as("id_b"), lit(true).as("__cb")),
        Seq("id_b"), "left_outer")
      .filter(col("__ca").isNotNull || col("__cb").isNotNull)
      .select(col("id_a"), col("id_b"), col("n_shared")))
    val touchedIds = touched.select(col("id_a").as("entity_id"))
      .unionByName(touched.select(col("id_b").as("entity_id"))).distinct()
    val counts = keys.join(touchedIds, Seq("entity_id"), "left_semi")
      .groupBy(col("entity_id")).agg(count(lit(1)).as("__nk"))
    touched
      .join(counts.select(col("entity_id").as("id_a"), col("__nk").as("__na")), Seq("id_a"))
      .join(counts.select(col("entity_id").as("id_b"), col("__nk").as("__nb")), Seq("id_b"))
      .withColumn("score", col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")).cast("double"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("score"))
  }

  /** Candidate pairs with a match score: the Jaccard of the two entities'
    * normalized key sets (`n_shared / (|A| + |B| - n_shared)`) — the
    * blocking-key overlap score real xref ranks candidates by before the
    * expensive per-pair comparison. Scale shape: the candidate generation
    * is [[fromLive]] (block-bounded); the scoring adds two key-count
    * joins on entity id — aggregation is map-side partial, no new pair
    * space.
    */
  def scoredFromLive(live: DataFrame, props: Seq[String],
      normalize: Column => Column = identity,
      maxBlock: Int = 100, minShared: Int = 2): DataFrame = {
    val keys = normalizedKeys(live, props, normalize)
    val cand = candidates(keys, "__block", "entity_id", maxBlock, minShared)
    val counts = keys.groupBy(col("entity_id")).agg(count(lit(1)).as("__nk"))
    cand
      .join(counts.select(col("entity_id").as("id_a"), col("__nk").as("__na")), Seq("id_a"))
      .join(counts.select(col("entity_id").as("id_b"), col("__nk").as("__nb")), Seq("id_b"))
      .withColumn("score", col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")).cast("double"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("score"))
  }
}
