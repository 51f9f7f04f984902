package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Determinism design: components are quantized to integers
  * (`round(x * 10000)`), so dot products and norms are exact integer sums
  * — every term and every partial is < 2^53, hence bit-identical in any
  * summation order and in any engine. The only floating-point steps are
  * one multiply, one sqrt and one divide on those exact integers, which
  * IEEE-754 pins to a single result. Cosine ordering is therefore stable
  * across Spark and DuckDB, making ANN results hash-comparable.
  *
  * Scale shape: brute-force top-k is the verification baseline (full scan
  * per query — only for small query sets); the bucketed variant is the
  * 100 TB path: sign-LSH buckets from the leading components, candidate
  * search within buckets only. Swapping the bucket function for trained
  * IVF centroids is a drop-in.
  */
object Similarity {

  val Scale = 10000

  /** Quantize a float-array embedding to an exact integer vector. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Deterministic cosine from quantized vectors — a native codegen
    * Expression ([[graft.functions.QuantizedCosine]]): one fused Java
    * loop instead of interpreted `aggregate`/`zip_with` lambdas (the hot
    * inner kernel of every scoring join). Same arithmetic, bit-equal
    * results.
    */
  def cosineQ(qa: Column, qb: Column, na: Column, nb: Column): Column =
    graft.functions.QuantizedCosine(qa, qb, na, nb)

  /** Normalized table: (id, label, q, n) with quantized vector + norm². */
  def prepared(emb: DataFrame, idCol: String): DataFrame =
    emb.withColumn("__q", quantize(col("embedding")))
      .withColumn("__n", dotQ(col("__q"), col("__q")))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * neighbors over the whole corpus. The corpus side streams once per
    * plan (broadcast the small query side); ranking is a per-query window
    * top-k, not a global sort.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, queries: DataFrame, k: Int): DataFrame = {
    val corpus = prepared(emb, idCol)
      .select(col(idCol).as("neighbor_id"), col("__q").as("__qc"), col("__n").as("__nc"))
    val qs = prepared(queries, idCol)
      .select(col(idCol).as("query_id"), col("__q").as("__qq"), col("__n").as("__nq"))
    val scored = corpus.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", cosineQ(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** SQ8 scalar quantization: per-vector max-abs scaling to int8 codes.
    * Cosine is SCALE-INVARIANT, so the per-vector scale never needs to be
    * stored or applied — codes score directly ([[cosine8]]). 1 byte per
    * dimension vs 8 for [[quantize]]: an 8× smaller broadcast / shuffle /
    * cache footprint for ANN candidate tables, which at 10B × 1k-dim
    * vectors is the difference between in-memory and spilled scoring.
    * A zero vector (scale 0) quantizes to all-zero codes.
    */
  def quantize8(emb: Column): Column = {
    val scale = array_max(transform(emb, x => abs(x.cast("double"))))
    transform(emb, x =>
      coalesce(round(x.cast("double") / nullif(scale, lit(0.0)) * 127.0),
        lit(0.0)).cast("byte"))
  }

  /** Exact integer dot product of two int8 code vectors (sums in long —
    * |dot| ≤ 127²·dims, far below 2^53).
    */
  def dot8(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Deterministic cosine over SQ8 codes — the int8 sibling of [[cosineQ]]
    * ([[graft.functions.Int8Cosine]], same fused codegen loop).
    */
  def cosine8(qa: Column, qb: Column, na: Column, nb: Column): Column =
    graft.functions.Int8Cosine(qa, qb, na, nb)

  /** SQ8 table: (…, __q8, __n8) int8 codes + exact code norm². */
  def prepared8(emb: DataFrame, idCol: String): DataFrame =
    emb.withColumn("__q8", quantize8(col("embedding")))
      .withColumn("__n8", dot8(col("__q8"), col("__q8")))

  /** Brute-force top-k over SQ8 codes: [[bruteForceTopK]] at 1/8th the
    * candidate-table footprint. Approximate only through quantization
    * rounding — ranking ties break identically (cosine desc, id asc).
    */
  def sq8TopK(emb: DataFrame, idCol: String, queries: DataFrame, k: Int): DataFrame = {
    val corpus = prepared8(emb, idCol)
      .select(col(idCol).as("neighbor_id"), col("__q8").as("__qc"), col("__n8").as("__nc"))
    val qs = prepared8(queries, idCol)
      .select(col(idCol).as("query_id"), col("__q8").as("__qq"), col("__n8").as("__nq"))
    val scored = corpus.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", cosine8(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Sign-LSH bucket key from the first `bits` quantized components. */
  def signBucket(q: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(q, i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Bucketed ANN: candidates restricted to the query's bucket. Recall is
    * approximate by construction; the shuffle is (bucket) -> candidates,
    * linear in corpus size instead of quadratic.
    */
  def bucketedTopK(emb: DataFrame, idCol: String, queries: DataFrame,
      k: Int, bits: Int): DataFrame = {
    val corpus = prepared(emb, idCol)
      .withColumn("__bkt", signBucket(col("__q"), bits))
      .select(col(idCol).as("neighbor_id"), col("__bkt"), col("__q").as("__qc"), col("__n").as("__nc"))
    val qs = prepared(queries, idCol)
      .withColumn("__bkt", signBucket(col("__q"), bits))
      .select(col(idCol).as("query_id"), col("__bkt"), col("__q").as("__qq"), col("__n").as("__nq"))
    val scored = corpus.join(broadcast(qs), Seq("__bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", cosineQ(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Nearest-centroid assignment for a (id, __q, __n) frame against a
    * bounded centroid table (__cid, __qk, __nk): score via one broadcast
    * nested-loop against the `nlist` centroids, then take the per-id
    * argmax with a map-side-partial `max_by` aggregation.
    *
    * Scale shape: the broadcast multiplies each scanned vector into
    * `nlist` scored rows, but the partial aggregate collapses them back
    * to ONE row per id inside the same task — the shuffle carries N rows,
    * not N×nlist. (The previous `row_number` window forced a full
    * exchange of the N×nlist cross product; at 10B vectors × 65k lists
    * that exchange is ~10¹⁴ rows — the difference between a survivable
    * assignment and an impossible one.) Tie-break matches the window it
    * replaces: highest cosine, then lowest centroid id — the ordering
    * struct (__csim, -__cid) is unique per (id, centroid), so `max_by`
    * is deterministic.
    */
  private[similarity] def assignNearest(df: DataFrame, idAs: String,
      cents: DataFrame, carry: Seq[String] = Seq("__q", "__n")): DataFrame = {
    val scored = df.join(broadcast(cents))
      .withColumn("__csim", cosineQ(col("__q"), col("__qk"), col("__n"), col("__nk")))
    scored.groupBy(col(idAs))
      .agg(max_by(
        struct((col("__cid") +: carry.map(col)): _*),
        struct(col("__csim"), (-col("__cid")).as("__negcid"))).as("__best"))
      .select((col(idAs) +: col("__best.__cid").as("__cid") +:
        carry.map(c => col(s"__best.$c").as(c))): _*)
  }

  /** IVF ANN: inverted-file search with a coarse quantizer. Centroids
    * here are the first `nlist` corpus vectors by id — deterministic, so
    * the SQL oracle replays the identical assignment; a production
    * deployment swaps in trained k-means centroids, and the assignment /
    * probe machinery below is unchanged.
    *
    * Scale shape: corpus assignment is one broadcast of `nlist` centroids
    * against a single corpus scan with a map-side argmax
    * ([[assignNearest]] — N rows shuffled, never N×nlist); each query
    * probes only its `nprobe` nearest lists, shrinking the candidate set
    * by ~nlist/nprobe versus a full scan. The scoring join keys on the
    * list id. The query side keeps a windowed top-`nprobe` — the query
    * set is small by contract, and `keep > 1` has no single-row argmax.
    */
  def ivfTopK(emb: DataFrame, idCol: String, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int): DataFrame =
    ivfTopKWithCents(emb, idCol, queries, k, seedCentroids(emb, idCol, nlist), nprobe)

  /** Deterministic seed centroids: the first `nlist` corpus vectors by id
    * — the replayable default quantizer ([[kmeansTrain]] produces the
    * trained replacement with the same (__cid, __qk, __nk) shape).
    */
  def seedCentroids(emb: DataFrame, idCol: String, nlist: Int): DataFrame =
    prepared(emb, idCol).filter(col(idCol) < nlist)
      .select(col(idCol).as("__cid"), col("__q").as("__qk"), col("__n").as("__nk"))

  /** [[ivfTopK]] against an explicit centroid table — the entry point for
    * trained quantizers.
    */
  def ivfTopKWithCents(emb: DataFrame, idCol: String, queries: DataFrame,
      k: Int, cents: DataFrame, nprobe: Int): DataFrame = {
    val prep = prepared(emb, idCol)
    val corpus = assignNearest(
      prep.select(col(idCol).as("neighbor_id"), col("__q"), col("__n")),
      "neighbor_id", cents)
      .withColumnRenamed("__q", "__qc").withColumnRenamed("__n", "__nc")
    val qsScored = prepared(queries, idCol)
      .select(col(idCol).as("query_id"), col("__q"), col("__n"))
      .join(broadcast(cents))
      .withColumn("__csim", cosineQ(col("__q"), col("__qk"), col("__n"), col("__nk")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cid"))
    val qs = qsScored.withColumn("__crn", row_number().over(wq))
      .filter(col("__crn") <= nprobe)
      .drop("__qk", "__nk", "__csim", "__crn")
      .withColumnRenamed("__q", "__qq").withColumnRenamed("__n", "__nq")
    val scored = corpus.join(broadcast(qs), Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", cosineQ(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** IVF-SQ8: the coarse quantizer of [[ivfTopK]] with SQ8 codes in the
    * inverted lists — FAISS's `IVF,SQ8` layout re-expressed relationally.
    * Assignment scores against the nlist-bounded centroids with the
    * exact-integer kernel (one broadcast scan, map-side argmax, N rows
    * shuffled); the artifact that actually shuffles and joins at corpus
    * size — the per-list candidate table — carries 1-byte codes and the
    * probe scoring runs [[cosine8]] over them. Same nprobe semantics as
    * [[ivfTopK]]; results differ from it only through SQ8 rounding.
    */
  def ivfSq8TopK(emb: DataFrame, idCol: String, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val prepBoth = prepared8(prepared(emb, idCol), idCol)
    val cents = prepBoth.filter(col(idCol) < nlist)
      .select(col(idCol).as("__cid"), col("__q").as("__qk"), col("__n").as("__nk"))
    val corpus = assignNearest(
      prepBoth.select(col(idCol).as("neighbor_id"),
        col("__q"), col("__n"), col("__q8"), col("__n8")),
      "neighbor_id", cents, carry = Seq("__q8", "__n8"))
      .withColumnRenamed("__q8", "__qc").withColumnRenamed("__n8", "__nc")
    val qsScored = prepared8(prepared(queries, idCol), idCol)
      .select(col(idCol).as("query_id"),
        col("__q"), col("__n"), col("__q8"), col("__n8"))
      .join(broadcast(cents))
      .withColumn("__csim", cosineQ(col("__q"), col("__qk"), col("__n"), col("__nk")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cid"))
    val qs = qsScored.withColumn("__crn", row_number().over(wq))
      .filter(col("__crn") <= nprobe)
      .select(col("query_id"), col("__cid"),
        col("__q8").as("__qq"), col("__n8").as("__nq"))
    val scored = corpus.join(broadcast(qs), Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", cosine8(col("__qq"), col("__qc"), col("__nq"), col("__nc")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** K-means update step over the IVF assignment: element-wise mean of
    * each list's member vectors. One training iteration of the coarse
    * quantizer — loop it (assignment from the previous round's means) to
    * train the [[ivfTopK]] centroids; the assignment/probe machinery is
    * unchanged.
    *
    * Scale shape: assignment is the same broadcast-centroids single scan
    * with map-side argmax as ivfTopK ([[assignNearest]] — N rows
    * shuffled, never N×nlist); the update is one partial-aggregated
    * groupBy on (list, dim) over posexploded components — shuffle rows =
    * corpus × dim keys collapsed map-side to nlist × dim. All sums are
    * exact integer (quantized), the mean is the single IEEE divide.
    */
  def kmeansUpdate(emb: DataFrame, idCol: String, nlist: Int): DataFrame = {
    val prep = prepared(emb, idCol)
    val cents = prep.filter(col(idCol) < nlist)
      .select(col(idCol).as("__cid"), col("__q").as("__qk"), col("__n").as("__nk"))
    val assigned = assignNearest(
      prep.select(col(idCol), col("__q"), col("__n")), idCol, cents)
    assigned.select(col("__cid").as("cid"),
        posexplode(col("__q")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .withColumn("mean_q", col("s").cast("double") / col("n").cast("double"))
  }

  /** Train the coarse quantizer: `iters` spherical-k-means rounds from
    * the deterministic seed centroids — assignment is the broadcast
    * map-side argmax of [[assignNearest]]; the update is the
    * partial-aggregated (list, dim) mean of [[kmeansUpdate]], requantized
    * to the exact-integer grid. Empty clusters keep their previous
    * centroid. Returns the (__cid, __qk, __nk) table
    * [[ivfTopKWithCents]] and the assignment machinery consume.
    *
    * Scale shape per round: the same two jobs MLlib's KMeans runs — one
    * corpus scan against broadcast centroids (N rows shuffled after the
    * map-side argmax) + one map-side-partial mean over posexploded
    * components (nlist × dim rows out). The centroid table is staged
    * between rounds — bounded by the quantizer size, never the corpus.
    */
  def kmeansTrain(emb: DataFrame, idCol: String, nlist: Int, iters: Int): DataFrame = {
    require(nlist > 0, s"nlist must be positive: $nlist")
    require(iters >= 0, s"iters must be non-negative: $iters")
    val prep = graft.functions.F.materialize(
      prepared(emb, idCol).select(col(idCol), col("__q"), col("__n")))
    var cents = seedCentroids(emb, idCol, nlist)
    for (_ <- 0 until iters) {
      val assigned = assignNearest(prep, idCol, cents)
      val means = assigned
        .select(col("__cid"), posexplode(col("__q")).as(Seq("__dim", "__v")))
        .groupBy(col("__cid"), col("__dim"))
        .agg(count(lit(1)).as("__cn"), sum(col("__v")).as("__cs"))
        .withColumn("__m",
          round(col("__cs").cast("double") / col("__cn").cast("double")).cast("long"))
      val fresh = means
        .groupBy(col("__cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("__dim"), col("__m")))),
          x => x.getField("__m")).as("__qk"))
        .withColumn("__nk", dotQ(col("__qk"), col("__qk")))
      val next = cents.select(col("__cid"),
          col("__qk").as("__qk0"), col("__nk").as("__nk0"))
        .join(fresh, Seq("__cid"), "left_outer")
        .select(col("__cid"),
          coalesce(col("__qk"), col("__qk0")).as("__qk"),
          coalesce(col("__nk"), col("__nk0")).as("__nk"))
      // The trained quantizer is DRIVER state in any k-means: nlist rows
      // by construction (bounded like the facet-list collects), so ship
      // it between iterations as a LocalRelation — one bounded collect
      // instead of a parquet write+read round-trip per iteration, and
      // every downstream broadcast(cents) starts from local rows instead
      // of a staged scan job. Values are identical; sorted by __cid so
      // the relation is deterministic.
      val rows = next.collect().sortBy(r => String.valueOf(r.get(0))).toSeq
      cents = next.sparkSession.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, next.schema)
    }
    cents
  }

  /** Near-duplicate pairs by embedding cosine above `threshold`, blocked
    * by an equality column (e.g. a cluster label or LSH bucket) so the
    * pair space is per-block, not global.
    *
    * Implementation: typed per-block pair loop over primitive arrays
    * rather than a DataFrame self-join — the all-pairs cosine inner loop
    * is the hot path, and a tight long-array loop beats interpreted
    * higher-order expressions by ~30×. One shuffle on the block key; each
    * block's pair loop runs independently on its executor. The arithmetic
    * is the identical quantized-integer recipe (exact sums, one
    * IEEE divide), so results still hash-match the SQL oracle.
    */
  /** Per-block size cap for the pair loops: a block past this is
    * degenerate (a mega-cluster of near-identical vectors) and is dropped
    * rather than exploded — the same signal-free-hot-block policy
    * (`Counters.Skips.capped`) as the LSH 10k bucket cap and xref's
    * maxBlock.
    */
  val DefaultMaxBlock = 100000

  def nearDupPairs(emb: DataFrame, idCol: String, blockCol: String,
      threshold: Double, maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val skips = graft.functions.Counters.skips(spark, "embed")
    val p = prepared(emb, idCol).select(
      col(blockCol).cast("int").as("block"),
      col(idCol).cast("long").as("id"),
      col("__q"), col("__n"))
      // a null block (an unassigned vector from an upstream left join) or
      // null id has no pair semantics — skip it instead of killing the
      // job with the tuple encoder's null-in-non-nullable-field error
      .filter(col("block").isNotNull && col("id").isNotNull)
      .as[(Int, Long, Array[Long], Long)]
    p.groupByKey(_._1)
      .flatMapGroups { (block, rows) =>
        skips.capped(rows, maxBlock) { vs0 =>
          val vs = vs0.sortBy(_._2)
          for {
            i <- vs.indices.iterator
            j <- (i + 1 until vs.length).iterator
            (_, ida, qa, na) = vs(i)
            (_, idb, qb, nb) = vs(j)
            if cosineOf(qa, qb, na, nb) > threshold
          } yield (block, ida, idb)
        }
      }
      .toDF(blockCol, "id_a", "id_b")
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * IVF coarse quantizer (first `nlist` vectors as deterministic
    * centroids — swap in trained k-means for production, as [[ivfTopK]]),
    * then within each cluster drop every vector whose cosine to ANY
    * lower-id cluster-mate exceeds `threshold` (greedy keep-first — the
    * lowest id of a near-dup group is the surviving representative).
    * Output: (id, cluster, keep).
    *
    * Scale shape: assignment is one broadcast of `nlist` centroids over a
    * single corpus scan with map-side argmax ([[assignNearest]] — N rows
    * shuffled, never N×nlist); the prune is one shuffle on the cluster id
    * with a per-cluster primitive-array loop — pair space is per-cluster
    * (the point of clustering first), never corpus-quadratic. Cluster
    * size is corpus/nlist in expectation; size nlist to bound it.
    */
  def semanticDedup(emb: DataFrame, idCol: String, nlist: Int,
      threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val prep = prepared(emb, idCol)
    val cents = prep.filter(col(idCol) < nlist)
      .select(col(idCol).as("__cid"), col("__q").as("__qk"), col("__n").as("__nk"))
    val assigned = assignNearest(
      prep.select(col(idCol), col("__q"), col("__n")), idCol, cents)
      .select(col(idCol), col("__cid"), col("__q"), col("__n"))
    // clusters past the block cap skip the prune (everything kept) rather
    // than exploding O(n²) in one task — at scale, size `nlist` so the
    // expected cluster is far below the cap; a cap-breaching cluster is a
    // quantizer-degeneracy signal, not a workload, and it is COUNTED
    // (Counters "semdedup") so the degeneracy is visible in metrics
    val skips = graft.functions.Counters.skips(spark, "semdedup")
    val dropped = assigned.select(
      col("__cid").cast("int"), col(idCol).cast("long"), col("__q"), col("__n"))
      .as[(Int, Long, Array[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        skips.capped(rows, DefaultMaxBlock) { vs0 =>
          val vs = vs0.sortBy(_._2)
          for {
            j <- vs.indices.iterator
            if (0 until j).exists(i =>
              cosineOf(vs(i)._3, vs(j)._3, vs(i)._4, vs(j)._4) > threshold)
          } yield vs(j)._2
        }
      }
      .toDF("__dropped_id")
    assigned
      .join(dropped, assigned(idCol) === col("__dropped_id"), "left_outer")
      .select(col(idCol), col("__cid").as("cluster"),
        col("__dropped_id").isNull.as("keep"))
  }

  /** Scala twin of [[cosineQ]] — same exact-integer dot, same single IEEE
    * multiply/sqrt/divide, bit-identical result.
    */
  def cosineOf(qa: Array[Long], qb: Array[Long], na: Long, nb: Long): Double = {
    var dot = 0L
    var i = 0
    while (i < qa.length) { dot += qa(i) * qb(i); i += 1 }
    // zero-norm → 0.0 (never NaN), long-exact product while it fits,
    // double product past the overflow boundary — the same rules as the
    // codegen kernel, kept bit-identical (see QuantizedCosine)
    if (na == 0L || nb == 0L) 0.0
    else {
      val p = na * nb
      val denom =
        if (p / na == nb) math.sqrt(p.toDouble)
        else math.sqrt(na.toDouble * nb.toDouble)
      dot.toDouble / denom
    }
  }

  // ---- Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") ----
  //
  // The third leg of the ANN stack (after sign-LSH buckets and IVF+SQ8):
  // the vector splits into M subvectors, each quantized to one of K
  // per-subspace centroids, so a 64-dim float vector becomes M=8 bytes —
  // 32x smaller than float32, and query scoring never touches the
  // original vectors (asymmetric distance: per-subspace lookup tables).
  //
  // The codebook here is DERIVED (a fixed integer formula over
  // (m, k, j)), standing in for a trained one so the whole pipeline is
  // deterministic and oracle-checkable; production drops in per-subspace
  // [[kmeansTrain]] output as a broadcast lookup with the identical plan
  // shape. Everything runs in the quantized-integer domain of this
  // module: squared distances are exact integer sums (order-free,
  // engine-identical), argmins tie-break on the centroid index, and no
  // float fold order ever matters.

  /** PQ subspace count, centroids per subspace, dims per subspace. */
  val PqM = 8
  val PqK = 16
  val PqSub = 8

  /** Encode a quantized vector ([[quantize]]) to its M PQ codes: per
    * subspace, the argmin-distance centroid index (ties → smaller k).
    * Stateless per-row projection — zero shuffles over the corpus, and a
    * fused codegen kernel ([[graft.functions.PqEncode]]): the HOF
    * composition of this argmin interpreted ~M·K·sub lambdas per row and
    * measured ~100× slower at sf0.1.
    */
  def pqCodes(qvec: Column): Column = graft.functions.PqEncode(qvec)

  /** Asymmetric PQ distance of the derived probe to an encoded vector:
    * sum over subspaces of ||q_m - centroid(m, code_m)||² through a
    * precomputed M×K lookup table ([[graft.functions.PqAdc]]) — the
    * classic PQ trick that makes scoring O(M) per vector instead of
    * O(D). Exact integer arithmetic end to end.
    */
  def pqAdcDist(codes: Column): Column = graft.functions.PqAdc(codes)

  /** IVF+PQ — the full production ANN composite (FAISS `IVFx,PQy`
    * shape): a coarse quantizer routes every vector to its nearest list
    * (exact-integer cosine, map-side argmax), the list entry stores only
    * the PQ codes of the RESIDUAL (vector − centroid), and each query
    * probes its `nprobe` nearest lists scoring candidates by asymmetric
    * distance between its own residual and the stored codes. The
    * shuffled/broadcast artifacts carry 4-bit codes instead of vectors —
    * the memory shape that makes 10B-vector indexes fit a cluster.
    *
    * Scale shape: one broadcast-centroid corpus scan (N rows shuffled,
    * never N×nlist), candidate scoring keyed on the list id, per-query
    * windowed top-k over the probed subset only. Deterministic end to
    * end (exact integers, documented tie-breaks), so the SQL oracle
    * replays it bit-for-bit.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val prep = prepared(emb, idCol)
    val cents = prep.filter(col(idCol) < nlist)
      .select(col(idCol).as("__cid"), col("__q").as("__qk"), col("__n").as("__nk"))
    val corpus = assignNearest(
        prep.select(col(idCol).as("neighbor_id"), col("__q"), col("__n")),
        "neighbor_id", cents, carry = Seq("__q", "__qk"))
      .withColumn("__codes",
        pqCodes(zip_with(col("__q"), col("__qk"), (a, b) => a - b)))
      .select(col("neighbor_id"), col("__cid"), col("__codes"))
    val qsScored = prepared(queries, idCol)
      .select(col(idCol).as("query_id"), col("__q"), col("__n"))
      .join(broadcast(cents))
      .withColumn("__csim",
        cosineQ(col("__q"), col("__qk"), col("__n"), col("__nk")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cid"))
    val qs = qsScored.withColumn("__crn", row_number().over(wq))
      .filter(col("__crn") <= nprobe)
      .select(col("query_id"), col("__cid"),
        zip_with(col("__q"), col("__qk"), (a, b) => a - b).as("__qres"))
    val scored = corpus.join(broadcast(qs), Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__dist",
        graft.functions.PqAdcVec(col("__codes"), col("__qres")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("__dist").as("pq_dist"), col("rank"))
  }
}
