package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedupe.Dedupe
import graft.functions.F
import graft.sketch.Sketches

/** Corpus-sketch queries (count-min, KMV, Bloom) over the documents
  * table — the estimator layer of the training-data pipeline, each with
  * an exact-integer DuckDB twin (see [[graft.sketch.Sketches]] for the
  * hash-family contract and scale shapes).
  */
object SketchOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** sk1: count-min heavy hitters — the 20 most frequent corpus tokens
    * with their true counts and the sketch's point estimates (CMS
    * guarantees est ≥ true). The term-frequency table is staged once and
    * feeds both the sketch build and the probe selection, mirroring a
    * production run where the sketch is built in the same pass that
    * sizes the vocabulary.
    */
  def sk1Countmin(spark: SparkSession, dir: String): DataFrame = {
    val tf = F.materialize(
      docs(spark, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n_true")))
    val sketch = Sketches.countMinFromCounts(tf, "term", "n_true")
    val probes = tf.orderBy(col("n_true").desc, col("term")).limit(20)
    probes
      .join(Sketches.cmsEstimate(sketch, probes, "term"), Seq("term"))
      .select(col("term"), col("n_true"), col("cms_est"))
      .orderBy(col("term"))
  }

  /** sk2: KMV distinct-token cardinality per source — exact count next
    * to the k=64 sketch estimate (the calibration report a pipeline runs
    * at small scale before trusting the sketch at full scale).
    */
  def sk2KmvDistinct(spark: SparkSession, dir: String): DataFrame =
    Sketches.kmvDistinct(
        docs(spark, dir)
          .select(col("source"), explode(split(col("text"), " ")).as("term")),
        "source", "term", k = 64)
      .orderBy(col("source"))

  /** bf1: Bloom-filter benchmark screen — d13's contamination check
    * restated as the 100 TB shape: the held-out split's shingles become
    * a bounded 65536-bit mask evaluated as a literal inside the training
    * scan, and every training doc reports how many of its shingles the
    * filter flags. One-sided by
    * construction: bloom_frac ≥ d13's exact contam_frac per doc, no
    * false negatives, and the false positives are deterministic hash
    * arithmetic the oracle reproduces.
    */
  def bf1BloomScreen(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(Dedupe.tokenHash(col("doc_id").cast("string")), lit(100))
    val withB = TrainingData.docShingleRows(spark, dir).withColumn("__b", bucket)
    // the bench-split bit table collapses to the 8 KB mask in ONE
    // shuffle-free pass over the held-out shingles (bit-set is
    // idempotent — no distinct; bounded collect — Sketches.bloomMask),
    // then rides into the training scan as a literal: no staging write,
    // no per-position join
    val mask = Sketches.bloomMask(
      withB.filter(col("__b") >= 90).select(col("__tok")), "__tok")
    val train = withB.filter(col("__b") < 80).select(col("doc_id"), col("__tok"))
    Sketches.bloomScreen(train, "__tok", mask)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("bloom_hit")).as("n_bloom_hits"))
      .withColumn("bloom_frac",
        col("n_bloom_hits").cast("double") / col("n_shingles").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** sk3: the streaming count-min sketch (constant d×w cells per batch,
    * see [[graft.streaming.SketchStream.countMinStreaming]]) drained once
    * over the events table, probed for the top-20 heavy-hitter users. A
    * one-batch drain equals the batch build bit-for-bit, so the batch SQL
    * twin is the oracle — streaming sketch maintenance sits in the same
    * correctness gate as everything else.
    */
  def sk3StreamCountmin(spark: SparkSession, dir: String): DataFrame = {
    val sketch = graft.streaming.SketchStream.countMinStreaming(spark, dir)
    // group by the native long key, cast only the distinct keys — the
    // string cast per event was the probe table's hot cost at scale
    val tf = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
      .select(col("user_id").cast("string").as("user_key"), col("n_true"))
    val probes = tf.orderBy(col("n_true").desc, col("user_key")).limit(20)
    probes
      .join(Sketches.cmsEstimate(sketch, probes, "user_key"), Seq("user_key"))
      .select(col("user_key"), col("n_true"), col("cms_est"))
      .orderBy(col("user_key"))
  }

  /** sk4: HyperLogLog distinct-shingle cardinality per source, next to
    * the exact count — the calibration run for the third estimator
    * family (CMS = frequency, KMV/HLL = cardinality, Bloom =
    * membership). Shingles are doc-grain (the staged `shingle3` table —
    * shingling at source grain would run windows across document
    * boundaries), with the source attached by a broadcast join against
    * the 2-column documents projection.
    */
  def sk4Hll(spark: SparkSession, dir: String): DataFrame = {
    // no broadcast hint: the (doc_id, source) projection scales with the
    // corpus — AQE broadcasts while it measures small and falls back to a
    // doc_id-keyed shuffle join at scale (both sides already hash evenly)
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val items = TrainingData.docShingleRows(spark, dir)
      .join(src, Seq("doc_id"))
    Sketches.hllDistinct(items, "source", "__tok").orderBy(col("source"))
  }

  /** bf2: Bloom-screened semi-join — the 100 TB join-pruning shape. The
    * urgent-order key set becomes an 8 KB bitmask LITERAL evaluated
    * inside the lineitem scan (no join, no exchange); only rows passing
    * all three hash probes reach the exact verify join, which scrubs the
    * (deterministic) false positives. The report keeps BOTH counts per flag: `n_bloom_pass`
    * pins the screen's arithmetic into the gate, `n_exact`/`sum_qty` are
    * the join's true answer — identical to the plain semi-join, which is
    * the point: the screen changes the data volume reaching the shuffle,
    * never the result.
    */
  def bf2BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    // o_orderkey is the orders PK (unique by schema contract), so the
    // key set needs NO distinct — the mask build is bit-idempotent and
    // the verify join is one-row-per-key either way. The oracle's
    // DISTINCT is a no-op over the same unique column.
    val keys = graft.Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").cast("string").as("__k"))
    // the 8 KB mask literal (bounded shuffle-free collect — see
    // Sketches.bloomMask): the screen evaluates INSIDE the lineitem
    // scan's codegen span; only passing rows reach the verify join.
    // `keys` is a cheap filtered projection, re-run once for the mask
    // and once for the verify join — cheaper than staging it anywhere.
    val mask = Sketches.bloomMask(keys, "__k")
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .withColumn("__k", col("l_orderkey").cast("string"))
    val pass = Sketches.bloomScreen(li, "__k", mask)
      .filter(col("bloom_hit") === 1)
    // the verify join is NOT hinted: the key set scales with the dim-side
    // selection (unbounded at 100 TB — only the ≤m-row bit table is
    // bounded by construction), so AQE picks broadcast at small sizes and
    // a shuffle join at scale; either way the Bloom prefilter has already
    // cut the probe volume reaching this join
    pass
      .join(keys.withColumn("__t", lit(1L)), Seq("__k"), "left_outer")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_bloom_pass"),
        sum(coalesce(col("__t"), lit(0L))).as("n_exact"),
        sum(when(col("__t").isNotNull,
          col("l_quantity").cast("decimal(18,2)"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** sk5: the streaming HLL registers (constant group×64 max state, no
    * dedup — see [[graft.streaming.SketchStream.hllStreaming]]) drained
    * once over the events table, finished into per-event_type estimates
    * next to the exact distinct-user count. A one-batch drain's registers
    * == the batch registers, so the batch SQL twin is the oracle.
    */
  def sk5StreamHll(spark: SparkSession, dir: String): DataFrame = {
    // staged: the finish self-joins the register table (grid ⋈ regs), so
    // it has two consumers; the registers are ≤ groups×64 rows, so the
    // write is trivial
    val regs = F.materialize(graft.streaming.SketchStream.hllStreaming(spark, dir))
    val est = Sketches.hllEstimateFromRegisters(regs, "event_type")
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .join(est, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk1_countmin" -> (sk1Countmin _),
    "sk2_kmv_distinct" -> (sk2KmvDistinct _),
    "sk3_stream_countmin" -> (sk3StreamCountmin _),
    "sk4_hll" -> (sk4Hll _),
    "sk5_stream_hll" -> (sk5StreamHll _),
    "bf1_bloom_screen" -> (bf1BloomScreen _),
    "bf2_bloom_join" -> (bf2BloomJoin _))

  private val tokH = "(('0x'||substr(md5(w),1,8))::BIGINT)"

  val oracle: Map[String, String] = Map(
    "sk1_countmin" ->
      s"""WITH toks AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
         |tf AS (SELECT w, COUNT(*) AS n_true FROM toks GROUP BY w),
         |hh AS (SELECT w, n_true, $tokH AS h FROM tf),
         |cells AS (
         |  SELECT hh.w, hh.n_true, i.i AS row,
         |    (((CASE i.i WHEN 0 THEN 31 WHEN 1 THEN 131 WHEN 2 THEN 1031 ELSE 8191 END) * hh.h
         |      + (CASE i.i WHEN 0 THEN 7 WHEN 1 THEN 17 WHEN 2 THEN 29 ELSE 43 END))
         |     % 4294967311) % 1024 AS bucket
         |  FROM hh, (SELECT unnest(range(0,4)) AS i) i),
         |sketch AS (SELECT row, bucket, SUM(n_true) AS n FROM cells GROUP BY 1, 2),
         |probes AS (SELECT w, n_true FROM tf ORDER BY n_true DESC, w LIMIT 20),
         |est AS (
         |  SELECT c.w, MIN(s.n) AS cms_est FROM cells c
         |  JOIN sketch s USING (row, bucket)
         |  WHERE c.w IN (SELECT w FROM probes) GROUP BY c.w)
         |SELECT p.w AS term, p.n_true, CAST(e.cms_est AS BIGINT) AS cms_est
         |FROM probes p JOIN est e ON e.w = p.w ORDER BY term""".stripMargin,
    "sk2_kmv_distinct" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text,' ')) AS w FROM documents),
         |dt AS (SELECT DISTINCT source, w FROM toks),
         |ex AS (SELECT source, COUNT(*) AS n_exact FROM dt GROUP BY source),
         |hs AS (SELECT DISTINCT source, $tokH AS h FROM dt),
         |r AS (SELECT source, h,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
         |    COUNT(*) OVER (PARTITION BY source) AS nh FROM hs),
         |kth AS (SELECT source, MAX(CASE WHEN rn <= 64 THEN h END) AS mk,
         |    MAX(nh) AS nh FROM r GROUP BY source)
         |SELECT ex.source, ex.n_exact,
         |  CAST(CASE WHEN kth.nh < 64 THEN kth.nh
         |       ELSE 270582939648 // greatest(kth.mk, 1) END AS BIGINT) AS kmv_est
         |FROM ex JOIN kth USING (source) ORDER BY source""".stripMargin,
    "sk3_stream_countmin" ->
      """WITH o AS (SELECT CAST(user_id AS VARCHAR) AS w FROM events),
        |tf AS (SELECT w, COUNT(*) AS n_true FROM o GROUP BY w),
        |hh AS (SELECT w, n_true, ('0x'||substr(md5(w),1,8))::BIGINT AS h FROM tf),
        |cells AS (
        |  SELECT hh.w, hh.n_true, i.i AS row,
        |    (((CASE i.i WHEN 0 THEN 31 WHEN 1 THEN 131 WHEN 2 THEN 1031 ELSE 8191 END) * hh.h
        |      + (CASE i.i WHEN 0 THEN 7 WHEN 1 THEN 17 WHEN 2 THEN 29 ELSE 43 END))
        |     % 4294967311) % 1024 AS bucket
        |  FROM hh, (SELECT unnest(range(0,4)) AS i) i),
        |sketch AS (SELECT row, bucket, SUM(n_true) AS n FROM cells GROUP BY 1, 2),
        |probes AS (SELECT w, n_true FROM tf ORDER BY n_true DESC, w LIMIT 20),
        |est AS (
        |  SELECT c.w, MIN(s.n) AS cms_est FROM cells c
        |  JOIN sketch s USING (row, bucket)
        |  WHERE c.w IN (SELECT w FROM probes) GROUP BY c.w)
        |SELECT p.w AS user_key, p.n_true, CAST(e.cms_est AS BIGINT) AS cms_est
        |FROM probes p JOIN est e ON e.w = p.w ORDER BY user_key""".stripMargin,
    "sk4_hll" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(text,' '))-2),
         |    i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS w
         |  FROM documents),
         |dt AS (SELECT DISTINCT source, w FROM toks),
         |ex AS (SELECT source, COUNT(*) AS n_exact FROM dt GROUP BY source),
         |hh AS (SELECT source, $tokH AS h FROM dt),
         |reg AS (SELECT source, h >> 26 AS idx,
         |  MAX(CASE WHEN (h & 67108863) = 0 THEN 27
         |      ELSE 27 - length(format('{:b}', h & 67108863)) END) AS mj
         |  FROM hh GROUP BY 1, 2),
         |grid AS (SELECT ex.source AS source, g.idx
         |  FROM ex, (SELECT unnest(range(0,64)) AS idx) g),
         |ss AS (SELECT grid.source AS source,
         |  SUM(1::BIGINT << (27 - COALESCE(reg.mj, 0))) AS s
         |  FROM grid LEFT JOIN reg ON reg.source = grid.source AND reg.idx = grid.idx
         |  GROUP BY 1)
         |SELECT ex.source, ex.n_exact,
         |  CAST((709::BIGINT * 4096 * 134217728) // (1000 * ss.s) AS BIGINT) AS hll_est
         |FROM ex JOIN ss ON ex.source = ss.source ORDER BY ex.source""".stripMargin,
    "sk5_stream_hll" ->
      """WITH hh AS (SELECT DISTINCT event_type,
        |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM events),
        |reg AS (SELECT event_type, h >> 26 AS idx,
        |  MAX(CASE WHEN (h & 67108863) = 0 THEN 27
        |      ELSE 27 - length(format('{:b}', h & 67108863)) END) AS mj
        |  FROM hh GROUP BY 1, 2),
        |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY 1),
        |grid AS (SELECT ex.event_type AS event_type, g.idx
        |  FROM ex, (SELECT unnest(range(0,64)) AS idx) g),
        |ss AS (SELECT grid.event_type AS event_type,
        |  SUM(1::BIGINT << (27 - COALESCE(reg.mj, 0))) AS s
        |  FROM grid LEFT JOIN reg
        |    ON reg.event_type = grid.event_type AND reg.idx = grid.idx
        |  GROUP BY 1)
        |SELECT ex.event_type, ex.n_exact,
        |  CAST((709::BIGINT * 4096 * 134217728) // (1000 * ss.s) AS BIGINT) AS hll_est
        |FROM ex JOIN ss ON ex.event_type = ss.event_type
        |ORDER BY ex.event_type""".stripMargin,
    "bf2_bloom_join" ->
      """WITH k AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS w FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |kh AS (SELECT ('0x'||substr(md5(w),1,8))::BIGINT AS h FROM k),
        |bits AS (
        |  SELECT DISTINCT ((31*h+7) % 4294967311) % 65536 AS pos FROM kh
        |  UNION SELECT ((131*h+17) % 4294967311) % 65536 FROM kh
        |  UNION SELECT ((1031*h+29) % 4294967311) % 65536 FROM kh),
        |li AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |    ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM lineitem),
        |pr AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |    ((31*h+7) % 4294967311) % 65536 AS p0,
        |    ((131*h+17) % 4294967311) % 65536 AS p1,
        |    ((1031*h+29) % 4294967311) % 65536 AS p2 FROM li),
        |pass AS (SELECT l_orderkey, l_returnflag, l_quantity FROM pr
        |  WHERE p0 IN (SELECT pos FROM bits) AND p1 IN (SELECT pos FROM bits)
        |    AND p2 IN (SELECT pos FROM bits)),
        |v AS (SELECT p.l_returnflag, p.l_quantity, (k.w IS NOT NULL) AS m
        |  FROM pass p LEFT JOIN k ON k.w = CAST(p.l_orderkey AS VARCHAR))
        |SELECT l_returnflag, COUNT(*) AS n_bloom_pass,
        |  CAST(COUNT(*) FILTER (WHERE m) AS BIGINT) AS n_exact,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE m) AS DOUBLE) AS sum_qty
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "bf1_bloom_screen" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(text,' '))-2),
         |    i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS w
         |  FROM documents),
         |b AS (SELECT doc_id, w,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS bk
         |  FROM toks),
         |bh AS (SELECT DISTINCT $tokH AS h FROM b WHERE bk >= 90),
         |bits AS (
         |  SELECT DISTINCT ((31*h+7) % 4294967311) % 65536 AS pos FROM bh
         |  UNION SELECT ((131*h+17) % 4294967311) % 65536 FROM bh
         |  UNION SELECT ((1031*h+29) % 4294967311) % 65536 FROM bh),
         |train AS (SELECT doc_id, w, $tokH AS h FROM b WHERE bk < 80),
         |pr AS (SELECT doc_id,
         |    ((31*h+7) % 4294967311) % 65536 AS p0,
         |    ((131*h+17) % 4294967311) % 65536 AS p1,
         |    ((1031*h+29) % 4294967311) % 65536 AS p2 FROM train),
         |hits AS (SELECT doc_id,
         |    CASE WHEN p0 IN (SELECT pos FROM bits) AND p1 IN (SELECT pos FROM bits)
         |          AND p2 IN (SELECT pos FROM bits) THEN 1 ELSE 0 END AS hit FROM pr)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(hit) AS BIGINT) AS n_bloom_hits,
         |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bloom_frac
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
