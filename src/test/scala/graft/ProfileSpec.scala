package graft

import graft.tools.Profile

/** The per-query profile accounts for a query's wall time and carries
  * the named counters: build + plan + exec adds up to the measured wall,
  * eager build-time staging shows as build jobs, and the store-phase and
  * gate counters land in the query that moved them.
  */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  private def profiled(names: String*): Map[String, Profile.QueryProfile] = {
    val rec = new Profile.Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try names.map(n => n -> Profile.profile(spark, sf, n, SparkEntry.queries(n), rec)).toMap
    finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  test("profile: layers add up to wall, staging and counters are attributed") {
    val ps = profiled("s3_store_roundtrip", "j4_parent_chain", "q1_agg")
    for ((n, p) <- ps) {
      // 4 ms of slack: the tracker records its phases in whole milliseconds
      val layers = p.buildS + p.planS + p.execS
      assert(math.abs(p.wallS - layers) <= 0.1 * p.wallS + 0.004,
        s"$n: wall ${p.wallS} vs build+plan+exec $layers")
      assert(p.execJobs.nonEmpty && p.jobs.forall(_.endMs >= 0), s"$n: ${p.json}")
    }
    val s3 = ps("s3_store_roundtrip")
    assert(s3.buildJobs.nonEmpty, s3.json)
    assert(s3.counters.exists { case (k, v) => k.startsWith("store.") && v > 0 }, s3.json)
    val j4 = ps("j4_parent_chain")
    assert(j4.counters.exists(_._1.startsWith("gate.paths.")), j4.json)
  }
}
