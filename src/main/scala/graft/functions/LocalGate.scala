package graft.functions

import org.apache.spark.sql.DataFrame

/** The one size gate in front of every executor-local fast path: a site
  * runs its single-task kernel only when every input's optimizer size
  * estimate fits its limit. For staged parquet and plain scans that is
  * the file size (driver metadata, no job); other inputs carry
  * over-estimates, so the gate fails safe toward the distributed path.
  * Each decision is counted as `gate.<site>.local` or `.distributed`.
  */
object LocalGate {

  /** Can only LOWER a site's limit; `0` forces every distributed path. */
  val Key = "spark.graft.localBytes"

  /** 32 MB ≈ 2-3M zstd edge rows, kCore's 2M-edge working-set band. */
  val DefaultBytes: Long = 32L << 20

  /** PageRank/PPR: the rank kernels do `iters×` more single-task work per
    * edge than union-find/BFS, and the distributed iteration parallelizes
    * that work well — measured crossover on this class of graph: local
    * wins at ~2 MB of staged edges (1.0 s vs 1.6-3.0 s), loses 2× at
    * ~30 MB (6.6 s vs 3.0 s at ×10). 8 MB keeps the win and cedes the
    * loss.
    */
  val RankBytes: Long = 8L << 20

  /** Whether site `site` takes its executor-local path for `inputs`. */
  def local(site: String, inputs: Seq[DataFrame],
      siteBytes: Long = DefaultBytes): Boolean = {
    val spark = inputs.head.sparkSession
    val max = spark.conf.getOption(Key).fold(siteBytes)(v => math.min(siteBytes, v.toLong))
    val ok = inputs.forall(_.queryExecution.optimizedPlan.stats.sizeInBytes <= max)
    Counters.acc(spark, s"gate.$site.${if (ok) "local" else "distributed"}").add(1)
    ok
  }
}
