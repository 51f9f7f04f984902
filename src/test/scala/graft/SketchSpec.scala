package graft

import org.apache.spark.sql.functions._

import graft.dedupe.Dedupe
import graft.sketch.Sketches

/** Corpus sketches: count-min (frequency upper bound), KMV distinct
  * cardinality, Bloom membership screen. Each test pins the estimator's
  * defining guarantee — CMS never underestimates, KMV is exact below k,
  * Bloom has no false negatives — plus the determinism the oracle
  * parity depends on (identical rebuild → identical bits).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def counts(rows: (String, Long)*) = rows.toDF("term", "n")

  test("count-min estimates are upper bounds and exact without collisions") {
    val tf = counts("alpha" -> 5L, "beta" -> 3L, "gamma" -> 11L, "delta" -> 2L)
    val sk = Sketches.countMinFromCounts(tf, "term", "n", width = 1024)
    // depth×width bound: never more cells than 4 rows × distinct terms
    assert(sk.count() <= 4L * 4L)
    val est = Sketches.cmsEstimate(sk, tf, "term", width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("alpha" -> 5L, "beta" -> 3L, "gamma" -> 11L, "delta" -> 2L)
    truth.foreach { case (t, n) => assert(est(t) >= n, s"underestimated $t") }
    // 4 terms in a 1024-wide sketch: no collisions, so exact
    assert(est === truth)
  }

  test("count-min collisions only inflate, and rebuilds are bit-identical") {
    // width 1 forces every term into one bucket per row: est = total mass
    val tf = counts("a" -> 1L, "b" -> 2L, "c" -> 4L)
    val sk = Sketches.countMinFromCounts(tf, "term", "n", width = 1)
    val est = Sketches.cmsEstimate(sk, tf, "term", width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.values.toSet === Set(7L))
    val again = Sketches.cmsEstimate(
      Sketches.countMinFromCounts(tf, "term", "n", width = 1), tf, "term", width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === est)
  }

  test("count-min is mergeable: sketch of the union == cell-wise sum of part sketches") {
    // the property that makes the sketch a valid distributed aggregate:
    // partitions sketch independently, cells add
    val partA = counts("x" -> 3L, "y" -> 1L, "shared" -> 2L)
    val partB = counts("z" -> 5L, "shared" -> 4L)
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.countMinFromCounts(df, "term", "n")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (cells(partA).keySet ++ cells(partB).keySet).map { k =>
      k -> (cells(partA).getOrElse(k, 0L) + cells(partB).getOrElse(k, 0L))
    }.toMap
    val whole = cells(partA.unionAll(partB))
    assert(whole === merged)
  }

  test("bloom bits are mergeable: bits of the union == union of part bits") {
    import org.apache.spark.sql.DataFrame
    val a = (1 to 50).map(i => s"a$i").toDF("item")
    val b = (1 to 50).map(i => s"b$i").toDF("item")
    def posSet(df: DataFrame) =
      Sketches.bloomBits(df, "item").collect().map(_.getLong(0)).toSet
    assert(posSet(a.unionAll(b)) === (posSet(a) ++ posSet(b)))
  }

  test("unknown probe terms estimate at least zero, never negative") {
    val sk = Sketches.countMinFromCounts(counts("x" -> 9L), "term", "n")
    val est = Sketches.cmsEstimate(sk, counts("neverseen" -> 0L), "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("neverseen") >= 0L)
  }

  test("KMV is exact below k and deterministic above it") {
    val items = (1 to 300).map(i => ("big", s"tok$i")) ++
      (1 to 10).map(i => ("small", s"tok$i"))
    val df = items.toDF("source", "term")
    val got = Sketches.kmvDistinct(df, "source", "term", k = 64, salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySource = got.map(t => t._1 -> (t._2, t._3)).toMap
    // below k: the sketch holds the whole distinct-hash set → exact
    assert(bySource("small") === ((10L, 10L)))
    // above k: estimate is a real estimate in a sane band (±50% here),
    // and the exact side is the true distinct count
    assert(bySource("big")._1 === 300L)
    assert(bySource("big")._2 > 150L && bySource("big")._2 < 450L,
      s"KMV estimate out of band: ${bySource("big")._2}")
    // determinism: the estimate is pure hash arithmetic
    val again = Sketches.kmvDistinct(df, "source", "term", k = 64, salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
    // salting must not change the answer (partition-shape independence)
    val otherSalt = Sketches.kmvDistinct(df, "source", "term", k = 64, salts = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(otherSalt.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("bloom screen has no false negatives and a bounded bit table") {
    val bench = (1 to 200).map(i => s"needle$i").toDF("item")
    val bits = Sketches.bloomBits(bench, "item", m = 4096)
    assert(bits.count() <= 4096L)
    // every build-side item must hit (one-sided guarantee)
    val hits = Sketches.bloomProbe(bench, "item", bits, m = 4096)
      .agg(sum(col("bloom_hit"))).collect()(0).getLong(0)
    assert(hits === 200L)
    // a disjoint probe set mostly misses (3 hashes over 4096 bits,
    // 600 set positions → false-positive rate well under 1%)
    val other = (1 to 1000).map(i => s"hay$i").toDF("item")
    val fp = Sketches.bloomProbe(other, "item", bits, m = 4096)
      .agg(sum(col("bloom_hit"))).collect()(0).getLong(0)
    assert(fp < 50L, s"implausible false-positive count: $fp")
  }

  test("literal-mask screen matches the join probe bit-for-bit") {
    val bench = (1 to 200).map(i => s"needle$i").toDF("item")
    val mask = Sketches.bloomMask(bench, "item", m = 4096)
    assert(mask.length === 4096 / 64)
    // mask packs exactly the bit-position table
    val posFromMask = mask.zipWithIndex.flatMap { case (w, i) =>
      (0 until 64).filter(b => (w & (1L << b)) != 0).map(b => i * 64L + b)
    }.toSet
    val posFromBits = Sketches.bloomBits(bench, "item", m = 4096)
      .collect().map(_.getLong(0)).toSet
    assert(posFromMask === posFromBits)
    // per-item hit flags agree with the join-form probe on a mixed set
    // (build hits + disjoint mostly-misses) — same arithmetic, no join
    val probe = ((1 to 200).map(i => s"needle$i") ++
      (1 to 1000).map(i => s"hay$i")).toDF("item")
    def flags(df: org.apache.spark.sql.DataFrame) =
      df.select(col("item"), col("bloom_hit"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaMask = flags(Sketches.bloomScreen(probe, "item", mask, m = 4096))
    val viaJoin = flags(Sketches.bloomProbe(probe, "item",
      Sketches.bloomBits(bench, "item", m = 4096), m = 4096))
    assert(viaMask === viaJoin)
    // and the screen keeps the one-sided guarantee on its own
    assert((1 to 200).forall(i => viaMask(s"needle$i") === 1L))
    // null items: no positions in the build, a plain miss (0) in the
    // screen — same as the join form's null-position lookup
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("needle1"), org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val nullMask = Sketches.bloomMask(withNull, "item", m = 4096)
    assert(nullMask.toSeq == Sketches.bloomMask(
      Seq("needle1").toDF("item"), "item", m = 4096).toSeq)
    val hits = Sketches.bloomScreen(withNull, "item", nullMask, m = 4096)
      .select(col("bloom_hit")).collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == Seq(0L, 1L))
  }

  test("streamed count-min equals the batch build bit-for-bit") {
    // sk3's one-shot drain is a batch plan of SketchStream.cmsCells (native
    // key grouping, then hashing); this checks it against the term-count
    // build of Sketches. Its stream form is proved in DrainRewriteSpec.
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.SketchStream.countMinStreaming(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tf = graft.Tables.events(spark, dir)
      .select(col("user_id").cast("string").as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val batch = Sketches.countMinFromCounts(tf, "term", "n")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("hll estimate tracks known cardinalities within the m=64 error regime") {
    // σ ≈ 1.04/√64 ≈ 13% — allow 3σ on a single trial
    val items = (1 to 5000).map(i => ("g", s"item$i")).toDF("grp", "item")
    val row = Sketches.hllDistinct(items, "grp", "item").collect()(0)
    val (exact, est) = (row.getLong(1), row.getLong(2))
    assert(exact === 5000L)
    assert(est > 5000L * 0.6 && est < 5000L * 1.4, s"estimate off: $est")
  }

  test("hll is duplicate-insensitive and deterministic") {
    val once = (1 to 800).map(i => ("g", s"v$i")).toDF("grp", "item")
    val dup = once.unionAll(once).unionAll(once)
    val a = Sketches.hllDistinct(once, "grp", "item").collect()(0).getLong(2)
    val b = Sketches.hllDistinct(dup, "grp", "item").collect()(0).getLong(2)
    assert(a === b)
  }

  test("hll registers merge by max: union estimate == merged-register estimate") {
    // the distributed-aggregate law: shards sketch independently,
    // registers combine with element-wise max — same law the operator's
    // single groupBy(max) applies across partitions, asserted explicitly
    // across two disjoint shards via the union rebuild
    val shardA = (1 to 1500).map(i => ("g", s"a$i")).toDF("grp", "item")
    val shardB = (1 to 1500).map(i => ("g", s"b$i")).toDF("grp", "item")
    val union = Sketches.hllDistinct(shardA.unionAll(shardB), "grp", "item")
      .collect()(0).getLong(2)
    val rebuilt = Sketches.hllDistinct(shardB.unionAll(shardA), "grp", "item")
      .collect()(0).getLong(2)
    assert(union === rebuilt) // order-insensitive: max is commutative
    val partOnly = Sketches.hllDistinct(shardA, "grp", "item").collect()(0).getLong(2)
    assert(union >= partOnly) // registers only grow under union
  }

  test("bloom probe keeps probe-side rows and columns intact") {
    val bits = Sketches.bloomBits(Seq("a").toDF("item"), "item")
    val probe = Seq(("d1", "a"), ("d1", "b"), ("d2", "a")).toDF("doc", "item")
    val out = Sketches.bloomProbe(probe, "item", bits)
    assert(out.columns.toSet === Set("doc", "item", "bloom_hit"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows(("d1", "a")) === 1L && rows(("d2", "a")) === 1L)
    assert(rows(("d1", "b")) === 0L)
  }
}
