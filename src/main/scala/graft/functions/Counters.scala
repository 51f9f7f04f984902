package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** The one named-counter registry: per-session named `LongAccumulator`s,
  * visible in the Spark UI; `graft.tools.Profile` prints their per-query
  * deltas. The counters:
  *
  *  - `<op>.skipped_buckets` / `<op>.skipped_rows`: groups (and their
  *    rows) dropped by a capped pair loop ([[Skips.capped]]). A group
  *    holding a large corpus fraction carries no discriminating signal,
  *    but a SYSTEMATICALLY hot one (empty-text fingerprints, a boilerplate
  *    cluster) lowers recall with nothing else saying so;
  *  - `store.<phase>_ms`: driver-side `StatementStore` commit phases;
  *  - `gate.<site>.local` / `.distributed`: [[LocalGate]] decisions.
  *
  * Task-side counts are retry-inclusive (Spark's accumulator semantics): a
  * diagnostic telltale, not an audit number; zero is exact.
  */
object Counters {

  private val accs = new SessionScoped[LongAccumulator]

  /** Get-or-register the named counter for this session. */
  def acc(spark: SparkSession, name: String): LongAccumulator =
    accs.getOrCompute(spark, name)(
      spark.sparkContext.longAccumulator(s"graft.$name"))

  /** Current count (0 when the counter was never touched). */
  def value(spark: SparkSession, name: String): Long =
    acc(spark, name).value

  /** Every counter this session has registered, with its current value. */
  def snapshot(spark: SparkSession): Map[String, Long] =
    accs.entries(spark).map { case (k, a) => k -> a.value.longValue }

  /** The skip pair of one capped operator, shipped into its tasks. */
  def skips(spark: SparkSession, op: String): Skips =
    new Skips(acc(spark, s"$op.skipped_buckets"), acc(spark, s"$op.skipped_rows"))

  final class Skips(buckets: LongAccumulator, rows: LongAccumulator)
      extends Serializable {

    /** The capped in-task group loop: a group within `cap` goes to
      * `emit`; an over-cap one is dropped and counted. At most `cap + 1`
      * members are ever materialized, so a mega-group (millions of rows
      * behind one key) never lands in task memory.
      */
    def capped[T: ClassTag, U](group: Iterator[T], cap: Int)(
        emit: Array[T] => Iterator[U]): Iterator[U] = {
      // take consumes exactly cap + 1 members; `group` resumes after them
      val kept = group.take(cap + 1).toArray
      if (kept.length <= cap) emit(kept)
      else {
        var extra = 0L
        group.foreach(_ => extra += 1)
        buckets.add(1); rows.add(kept.length + extra)
        Iterator.empty
      }
    }
  }
}
