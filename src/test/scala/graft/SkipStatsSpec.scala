package graft

import org.apache.spark.sql.functions._

import graft.functions.Counters

/** The no-silent-caps contract (SURVEY §8): every capped in-task pair
  * loop counts what its oversize-bucket policy drops. Each case feeds a
  * deliberately hot bucket past a tiny cap and asserts (a) the operator
  * returns the capped result it always returned (the CORRECTNESS oracle
  * gate keeps the under-cap outputs byte-identical) and (b) the skip
  * counters record the dropped groups and rows.
  */
class SkipStatsSpec extends SparkSpec {
  import spark.implicits._

  private def delta(op: String)(body: => Unit): (Long, Long) = {
    val b0 = Counters.value(spark, s"$op.skipped_buckets")
    val r0 = Counters.value(spark, s"$op.skipped_rows")
    body
    (Counters.value(spark, s"$op.skipped_buckets") - b0,
      Counters.value(spark, s"$op.skipped_rows") - r0)
  }

  test("LSH mega-bucket skips are counted (buckets and member rows)") {
    // five docs with IDENTICAL signatures: with k=4, rowsPerBand=2 both
    // bands collapse to one bucket of 5 > cap 3
    val sig = (1L to 5L).toDF("id")
      .withColumn("mh0", lit(7L)).withColumn("mh1", lit(11L))
      .withColumn("mh2", lit(13L)).withColumn("mh3", lit(17L))
    val (db, dr) = delta("lsh") {
      val pairs = graft.dedupe.Dedupe.lshCandidatePairs(
        sig, "id", k = 4, rowsPerBand = 2, maxBucket = 3)
      assert(pairs.count() == 0)
    }
    assert(db == 2, s"expected 2 skipped band-buckets, got $db")
    assert(dr == 10, s"expected 10 skipped rows (5 per band), got $dr")

    // under the cap: pairs emitted, counters untouched
    val (db2, dr2) = delta("lsh") {
      val pairs = graft.dedupe.Dedupe.lshCandidatePairs(
        sig, "id", k = 4, rowsPerBand = 2, maxBucket = 100)
      assert(pairs.count() == 10) // C(5,2)
    }
    assert(db2 == 0 && dr2 == 0)
  }

  test("SimHash hot byte-bucket skips are counted") {
    // identical simhashes: all 4 byte-bands collapse, each bucket holds 4 > 2
    val sig = (1L to 4L).toDF("id").withColumn("simhash", lit(0x01020304L))
    val (db, dr) = delta("simhash") {
      val pairs = graft.dedupe.Dedupe.simhashPairs(sig, "id", maxBucket = 2)
      assert(pairs.count() == 0)
    }
    assert(db == 4, s"expected 4 skipped byte-buckets, got $db")
    assert(dr == 16, s"expected 16 skipped rows (4 per band), got $dr")
  }

  test("xref mega-block skips are counted and do not abort other blocks") {
    val keys = Seq(
      ("hot", "e1"), ("hot", "e2"), ("hot", "e3"), ("hot", "e4"),
      ("cold", "e8"), ("cold", "e9")).toDF("blk", "eid")
    val (db, dr) = delta("xref") {
      val cand = graft.ops.Xref.candidates(keys, "blk", "eid",
        maxBlock = 3, minShared = 1)
      // the cold block still pairs; the hot block is dropped
      assert(cand.select("id_a", "id_b").as[(String, String)].collect().toSet ==
        Set(("e8", "e9")))
    }
    assert(db == 1 && dr == 4, s"got ($db, $dr)")
  }

  test("embedding mega-block skips are counted") {
    val emb = (1L to 5L).toDF("id")
      .withColumn("block", lit(0))
      .withColumn("embedding", array(lit(1.0f), lit(0.0f)))
    val (db, dr) = delta("embed") {
      val pairs = graft.similarity.Similarity.nearDupPairs(
        emb, "id", "block", threshold = 0.9, maxBlock = 3)
      assert(pairs.count() == 0)
    }
    assert(db == 1 && dr == 5, s"got ($db, $dr)")

    // semdedup: one IVF cluster (nlist = 1) one past the fixed block cap
    // skips its prune, so every vector is kept
    val n = graft.similarity.Similarity.DefaultMaxBlock + 1L
    val big = spark.range(n).toDF("id")
      .withColumn("embedding", array(lit(1.0f), lit(0.0f)))
    val (sb, sr) = delta("semdedup") {
      val out = graft.similarity.Similarity.semanticDedup(
        big, "id", nlist = 1, threshold = 0.9)
      assert(out.filter(!col("keep")).count() == 0)
    }
    assert(sb == 1 && sr == n, s"got ($sb, $sr)")
  }
}
