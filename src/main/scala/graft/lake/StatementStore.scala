package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Statement
import graft.ops.MergeDedupe

/** The statement table: Hive-partitioned parquet part files under
  * `shard=x/bucket=y/origin=z/` directories and a snapshot [[Manifest]], giving
  * the Delta-like behaviors the reference relies on (append, partition
  * rewrite, compact, vacuum, version counter, destroy) without Delta jars
  * (reference: storage/parquet.py; SURVEY.md §2.1, §7).
  *
  * Scale design: every operation is a single distributed job over only the
  * files it touches. Readers are snapshot-isolated by the manifest (a merge
  * never yanks files out from under a running scan — old files stay on disk
  * until vacuum). Writers serialize on the table fence, appends create
  * unique part files so concurrent readers are safe. Partition-grain dirty
  * tags keep merge incremental: clean partitions are carried over by
  * reference, not rewritten.
  */
class StatementStore(val spark: SparkSession, val rootStr: String, val shards: Int = 16) {

  val root = new Path(rootStr)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  val tags = new Tags(fs, root)

  // driver-side phase milliseconds (`store.<phase>_ms` in Counters):
  // separates the write jobs from the commit protocol in a query profile
  private def timed[A](phase: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally graft.functions.Counters.acc(spark, s"store.${phase}_ms")
      .add((System.nanoTime() - t0) / 1000000L)
  }

  def version: Long = Manifest.currentVersion(fs, root)

  /** S1: raw physical rows of a snapshot — tombstones and pre-merge
    * duplicates included. Deliberately a plain file scan so predicates and
    * projections push all the way to parquet row-group stats.
    */
  def rawAt(v: Long): DataFrame = {
    val files = Manifest.liveFiles(fs, root, v)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Statement.schema)
    else
      spark.read.schema(Statement.schema)
        .option("basePath", root.toString)
        .parquet(files.toSeq.sorted.map(f => s"$rootStr/$f"): _*)
  }

  def raw: DataFrame = rawAt(-1L)

  /** P8 at file grain: the raw rows that may have changed since `cutoff`,
    * scanning ONLY files whose zone map (max changed-timestamp, kept in
    * the manifest) reaches the cutoff. At 100 TB an incremental diff
    * touches the last few commits' files instead of every footer in the
    * table — the same skip Delta gets from its log stats. Files without
    * stats (e.g. written by an older engine) are conservatively read; the
    * row-level predicate is NOT applied here, so callers layer the exact
    * `first_seen/deleted_at >= cutoff` filter on top (pruning is a
    * superset guarantee, never a semantics change).
    */
  def rawChangedSince(cutoff: java.sql.Timestamp): DataFrame = {
    val cutoffMicros = cutoff.getTime * 1000L
    val v = version
    val files = Manifest.liveFiles(fs, root, v)
    val stats = Manifest.liveStats(fs, root, v)
    val keep = files.filter(f => stats.get(f).forall(_ >= cutoffMicros))
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Statement.schema)
    else
      spark.read.schema(Statement.schema)
        .option("basePath", root.toString)
        .parquet(keep.toSeq.sorted.map(f => s"$rootStr/$f"): _*)
  }

  /** Change data feed between two snapshots: the row-level delta —
    * `op = ADD` for rows present at `vNew` only, `DEL` for rows present
    * at `vOld` only — computed by reading ONLY the manifests'
    * symmetric-difference files. Carried-over files contribute identical
    * rows to both snapshots and cancel in the set difference, so
    * skipping them is EXACT, not approximate: a merge that rewrote 1% of
    * partitions costs a 1%-sized diff, never a two-full-snapshot scan
    * (the same pruning a Delta-style CDF gets from its log). Both sides
    * stay plain file scans, so pushdown applies to any caller filter.
    */
  /** [[cdf]] from `vOld` to the CURRENT version, or None when `vOld`'s
    * manifest has been vacuumed away (the caller must fall back to a
    * non-version-exact discovery). The diff exports use this for exact
    * changed-entity discovery.
    */
  def cdfSince(vOld: Long): Option[DataFrame] =
    if (!Manifest.presentVersions(fs, root).contains(vOld)) None
    else Some(cdf(vOld, version))

  def cdf(vOld: Long, vNew: Long): DataFrame = {
    val oldFiles = Manifest.liveFiles(fs, root, vOld)
    val newFiles = Manifest.liveFiles(fs, root, vNew)
    // normalize column ORDER on both sides: a partitioned parquet read
    // emits partition columns at the END of the schema while the
    // empty-side DataFrame follows the declared order — and `except`
    // aligns by position, so without the select a one-sided diff would
    // compare shifted columns (fragment against external, …)
    def readFiles(files: Set[String]): DataFrame = {
      val df =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Statement.schema)
        else spark.read.schema(Statement.schema)
          .option("basePath", root.toString)
          .parquet(files.toSeq.sorted.map(f => s"$rootStr/$f"): _*)
      df.select(Statement.columns.map(col): _*)
    }
    val added = readFiles(newFiles -- oldFiles)
    val removed = readFiles(oldFiles -- newFiles)
    // One-pass symmetric difference: tag each side and aggregate per-side
    // presence over the union — a single map-side-combinable shuffle, one
    // scan per side. The two-`except` form costs four shuffle legs
    // (distinct + anti-join per direction) and scans each side twice.
    // Set semantics are identical to except's: a row present on both
    // sides (any multiplicity) cancels, output rows are distinct, and
    // both group-by and except compare NULLs as equal.
    val rowCols = Statement.columns.map(col)
    added.withColumn("__a", lit(1)).withColumn("__d", lit(0))
      .unionByName(removed.withColumn("__a", lit(0)).withColumn("__d", lit(1)))
      .groupBy(rowCols: _*)
      .agg(max(col("__a")).as("__a"), max(col("__d")).as("__d"))
      .filter(col("__a") =!= col("__d"))
      .withColumn("op", when(col("__a") === 1, lit("ADD")).otherwise(lit("DEL")))
      .drop("__a", "__d")
  }

  /** S2: live view — tombstone filter + synthesized canonical_id, kept
    * windowless so pushdown is never blocked. Only guaranteed
    * duplicate-free after [[merge]], exactly like the reference.
    */
  def live: DataFrame =
    raw.filter(col("deleted_at").isNull)
      .withColumn("canonical_id", col("entity_id"))

  /** Canonical read regardless of merge state (A1 applied at read time). */
  def canonical: DataFrame = MergeDedupe.live(raw)

  private def partitionOf(rel: String): String =
    rel.split('/').take(Statement.partitionColumns.length).mkString("/")

  /** Write a batch partitioned + sorted into a unique staging dir, then
    * move the part files into the table layout. The listing is scoped to
    * the staged batch — O(batch files), never a full table tree-walk
    * (which at high commit counts is O(table files) of driver FS calls
    * per append). Part-file names carry the job UUID, so moves can't
    * collide with existing files. Returns the fresh relative paths.
    */
  private def writeStaged(df: DataFrame, sortCols: Seq[Column],
      preClustered: Boolean = false,
      compression: Option[String] = None): Set[String] = {
    val stage = new Path(root, s"_graft/ingest/${java.util.UUID.randomUUID().toString}")
    val clustered =
      if (preClustered) df.select(Statement.columns.map(col): _*)
      else df.select(Statement.columns.map(col): _*)
        .repartition(Statement.partitionColumns.map(col): _*)
    // the task sort leads with the partition columns: a dynamic-partition
    // write REQUIRES ordering by them and silently injects its own sort
    // when the child's ordering doesn't prefix-match — paying a second
    // full sort of the batch and de-stabilizing the intended in-file
    // order. With the prefix in place the writer reuses this single sort.
    val writer = clustered
      .sortWithinPartitions((Statement.partitionColumns.map(col) ++ sortCols): _*)
      .write.partitionBy(Statement.partitionColumns: _*)
    compression.foreach(c => writer.option("compression", c))
    timed("write_job")(writer.mode("overwrite").parquet(stage.toString))
    val stageBase = stage.toUri.getPath.stripSuffix("/")
    val moves = scala.collection.mutable.ArrayBuffer.empty[(Path, Path, String)]
    val it = fs.listFiles(stage, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = f.toUri.getPath.stripPrefix(stageBase).stripPrefix("/")
        moves += ((f, new Path(root, rel), rel))
      }
    }
    // one mkdirs per partition dir, not per file — and do them before the
    // renames so the rename pass is pure renames
    moves.map(_._2.getParent.toString).distinct
      .foreach(d => FsOps.mkdirs(fs, new Path(d)))
    // renames are independent driver-side IO: run them on the bounded pool
    // (same as footer stats). On an object store each rename is a round
    // trip — a 10k-file batch committed serially is 10k sequential driver
    // calls; pooled it is 10k/poolWidth.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = FsOps.driverIoPool
    timed("staged_moves")(Await.result(
      Future.traverse(moves.toSeq) { case (src, dest, rel) =>
        Future {
          if (!FsOps.rename(fs, src, dest))
            throw new IllegalStateException(s"staged write move failed: $rel")
        }
      }, Duration.Inf))
    fs.delete(stage, true)
    moves.map(_._3).toSet
  }

  /** S3: partitioned append. Batch rows are clustered by the 7-key order
    * inside each written file (reference O1) so later merges and
    * entity-contiguous scans stay cheap. Dirty tags are stamped before the
    * manifest commit — crash-safe ordering: a lost commit leaves dirt, a
    * lost tag at worst re-merges a clean partition.
    */
  /** Zone maps for freshly written files: max changed-timestamp per file
    * from the parquet footers just produced (O(batch files) at commit
    * time), merged with the carried-over files' existing entries so a
    * commit never degrades older files' skipping stats.
    */
  private def statsFor(fresh: Set[String]): Map[String, Long] = timed("footer_stats") {
    val conf = spark.sessionState.newHadoopConf()
    // footer opens are independent driver-side IO — run them on a bounded
    // pool (serial opens dominate commit latency once a batch spans many
    // partitions; on an object store each open is a round trip)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = FsOps.driverIoPool
    Await.result(
      Future.traverse(fresh.toSeq) { f =>
        Future(FileStats.maxChangedMicros(conf, new Path(root, f)).map(f -> _))
      }, Duration.Inf).flatten.toMap
  }

  def append(df: DataFrame): Long = timed("append")(Locks.withLock(fs, root) {
    val fresh = writeStaged(df,
      Statement.appendSortColumns.map(col) :+ col("last_seen").desc)
    // one dirty stamp per append (a batch file listing the touched
    // partitions), not one control-file write per partition — at scale
    // that's one object-store PUT per commit instead of hundreds
    tags.put(s"dirty/${java.util.UUID.randomUUID().toString}",
      fresh.map(partitionOf).toSeq.sorted.mkString("\n"))
    val (liveSet, liveStats) = timed("manifest_live_state")(Manifest.liveState(fs, root))
    timed("manifest_commit")(Manifest.commit(fs, root, liveSet ++ fresh, "append",
      liveStats ++ statsFor(fresh)))
  })

  /** Default tombstone grace: 30 days, like the reference
    * (core/settings.py:31) — tombstones younger than this survive the
    * merge physically so they keep shadowing late re-imports.
    */
  val DefaultGraceDays = 30

  /** A2: merge rewrite of dirty partitions only (or all with `force`).
    * Tombstones inside the grace window survive physically so they keep
    * shadowing late re-imports (ST4). Clean partitions carry over by
    * reference in the new manifest — zero IO for them. Pass
    * `graceCutoff = Some(lit(null))`-style explicit cutoffs to override;
    * the default reaps only tombstones older than [[DefaultGraceDays]].
    */
  def merge(graceCutoff: Option[Column] = None, force: Boolean = false): Long =
    Locks.withLock(fs, root) {
      val (liveSet, liveStats) = Manifest.liveState(fs, root)
      // dirty partitions arrive as batch files (one per append); merge
      // consumes exactly the stamps it read
      val dirtyKeys = tags.list("dirty/")
      val dirty: Set[String] =
        if (force) liveSet.map(partitionOf)
        else dirtyKeys.flatMap(k => tags.get(k).toSeq.flatMap(_.split('\n'))).toSet
      if (dirty.isEmpty) return version
      val dirtyFiles = liveSet.filter(f => dirty.contains(partitionOf(f)))
      if (dirtyFiles.isEmpty) return version
      // ONE exchange for the whole rewrite: clustering on the physical
      // partition columns up front satisfies both merge window branches
      // (their partition keys extend these columns, and a hash partitioning
      // on a key subset satisfies the windows' clustered distribution) and
      // the partitioned write — no per-branch re-shuffle, no pre-write
      // repartition.
      val scoped = spark.read.schema(Statement.schema)
        .option("basePath", root.toString)
        .parquet(dirtyFiles.toSeq.sorted.map(f => s"$rootStr/$f"): _*)
        .repartition(Statement.partitionColumns.map(col): _*)
      val cutoff = graceCutoff.getOrElse(
        current_timestamp() - expr(s"INTERVAL $DefaultGraceDays DAYS"))
      val merged = MergeDedupe.withGrace(scoped, cutoff)
      val fresh = writeStaged(merged, Seq(
        col("entity_id"), col("fragment"), col("prop"), col("id"), col("last_seen").desc),
        preClustered = true)
      val v = Manifest.commit(fs, root, (liveSet -- dirtyFiles) ++ fresh, "merge",
        (liveStats -- dirtyFiles) ++ statsFor(fresh))
      // dirt is consumed only AFTER the commit lands — same crash-safe
      // ordering as append ("a lost commit leaves dirt"): a crash between
      // write and commit must leave the stamps so the next merge retries;
      // deleting first would orphan the rewrite AND erase the only record
      // that these partitions still need merging (live would serve
      // duplicates until an unrelated append re-dirtied them). A crash
      // AFTER commit but before the deletes merely leaves stale stamps —
      // the next merge rewrites already-clean partitions once (idempotent).
      dirtyKeys.foreach(tags.delete)
      v
    }

  /** Default bin-pack target: 128 MiB output files — the conventional
    * lakehouse sweet spot (row-group-aligned reads, manifests stay
    * O(10⁵) lines at 100 TB). The reference compacts to ftmq's
    * TARGET_SIZE the same way (storage/parquet.py:696-705).
    */
  val DefaultTargetFileBytes: Long = 128L << 20

  /** Per-bucket parquet writer profile (reference `writer_for_bucket`,
    * storage/parquet.py:541,660-662): document-tree buckets carry long
    * text values where zstd's ratio pays for itself; the hot
    * thing/interval buckets keep snappy's cheap decode.
    */
  def compressionForBucket(bucket: String): String = bucket match {
    case "document" | "page" | "pages" => "zstd"
    case _ => "snappy"
  }

  /** S6: bin-pack small files, Delta-OPTIMIZE-style (reference
    * storage/parquet.py:685-706): within each partition, files smaller
    * than `targetFileBytes` are rewritten into ~target-size outputs once
    * more than `maxFilesPerPartition` of them accumulate; files already
    * at/above target are left alone (compact never splits). Each
    * partition's rewrite lands in `ceil(smallBytes / target)` files via a
    * deterministic entity-hash salt — a 1 TB backlog packs through
    * parallel tasks, never one writer task per partition. Writes are
    * grouped per bucket so each bucket gets its writer profile
    * ([[compressionForBucket]]); one manifest commit covers all buckets.
    * Old files become vacuum-able.
    */
  /** Order-preserving long view + min/max scaling of `cols` (1 or 2),
    * Morton-interleaved for 2 — the Z-ORDER clustering key. Bounds come
    * from one agg pass over the batch being rewritten; strings map to
    * their first-7-byte big-endian value (lexicographic-order
    * preserving), timestamps to epoch micros. Linear scaling is
    * boundary-placement only — heavy skew degrades balance, never
    * correctness (the range exchange re-balances by sampled frequency).
    */
  private def zColumn(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.nonEmpty && cols.size <= 2,
      s"zorderBy supports 1 or 2 columns, got $cols")
    import org.apache.spark.sql.types.{StringType, TimestampType, TimestampNTZType}
    def asLong(c: String): Column = df.schema(c).dataType match {
      case StringType =>
        conv(substring(hex(col(c).cast("binary")), 1, 14), 16, 10).cast("long")
      case TimestampType | TimestampNTZType => unix_micros(col(c).cast("timestamp"))
      case _ => col(c).cast("long")
    }
    val longs = cols.map(asLong)
    val aggs = longs.zipWithIndex.flatMap { case (l, i) =>
      Seq(min(l).as(s"mn$i"), max(l).as(s"mx$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val maxCode = ((1L << graft.functions.ZOrderLong.Bits) - 1).toDouble
    val scaled = longs.zipWithIndex.map { case (l, i) =>
      val mn = if (row.isNullAt(row.fieldIndex(s"mn$i"))) 0L
        else row.getAs[Long](s"mn$i")
      val mx = if (row.isNullAt(row.fieldIndex(s"mx$i"))) 1L
        else row.getAs[Long](s"mx$i")
      val span = math.max(1L, mx - mn).toDouble
      floor((l - lit(mn)).cast("double") / lit(span) * lit(maxCode)).cast("long")
    }
    if (scaled.size == 1) scaled.head
    else graft.functions.ZOrderLong(scaled(0), scaled(1))
  }

  /** With `zorderBy` non-empty, compact switches from hash-salt packing
    * to DATA CLUSTERING (Delta `OPTIMIZE ... ZORDER BY` shape): rewritten
    * rows are range-partitioned on (partition cols, z-code), so each
    * output file covers a tight box in the clustered dimension(s) and
    * parquet footer min/max prunes whole files for point/range predicates
    * on them — one column gives disjoint ranges, two gives Morton boxes
    * that prune on EITHER dimension. File sizes become approximate
    * (sampled equi-frequency ranges) instead of the exact per-partition
    * bin counts of the default path; both paths leave full-size files
    * untouched.
    */
  def compact(maxFilesPerPartition: Int = 4,
      targetFileBytes: Long = DefaultTargetFileBytes,
      zorderBy: Seq[String] = Nil): Long = Locks.withLock(fs, root) {
    val (liveSet, liveStats) = Manifest.liveState(fs, root)
    // file sizes: independent driver metadata reads on the bounded pool
    val sizes: Map[String, Long] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = FsOps.driverIoPool
      Await.result(
        Future.traverse(liveSet.toSeq) { f =>
          Future(f -> fs.getFileStatus(new Path(root, f)).getLen)
        }, Duration.Inf).toMap
    }
    // candidates: partitions holding more than the allowed number of
    // sub-target files (those pack; full-size files are untouched)
    val smallByPartition: Map[String, Set[String]] = liveSet
      .groupBy(partitionOf)
      .map { case (p, fls) => p -> fls.filter(f => sizes.getOrElse(f, 0L) < targetFileBytes) }
      .filter(_._2.size > maxFilesPerPartition)
    if (smallByPartition.isEmpty) return version
    // map key = the partition's raw VALUES (hive-unescaped, -joined)
    // so it matches the column-side key below even for escaped dir names
    // (origin "src:a" → dir "origin=src%3Aa"); a reconstructed-path key
    // would silently miss those partitions and collapse their salt to 1
    def valueKey(p: String): String = p.split('/').map { seg =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.split("=", 2).last)
    }.mkString("")
    val nOutFiles: Map[String, Int] = smallByPartition.map { case (p, fls) =>
      valueKey(p) -> math.max(1L, (fls.iterator.map(sizes.getOrElse(_, 0L)).sum
        + targetFileBytes - 1) / targetFileBytes).toInt
    }
    val rewritten = smallByPartition.values.flatten.toSet
    val bucketOf = (p: String) => p.split('/')(1).stripPrefix("bucket=")
    val sortCols = Seq(
      col("entity_id"), col("fragment"), col("prop"), col("id"), col("last_seen").desc)
    // column-side twin of valueKey: raw values joined on  (nulls
    // normalized to the hive default-partition sentinel, matching the
    // directory name a null value produces)
    val partKey = concat_ws("",
      Statement.partitionColumns.map(c =>
        coalesce(col(c).cast("string"), lit("__HIVE_DEFAULT_PARTITION__"))): _*)
    val fresh = smallByPartition.keys.groupBy(bucketOf).flatMap { case (bucket, parts) =>
      val files = parts.flatMap(smallByPartition).toSeq.sorted
      val base = spark.read.schema(Statement.schema).option("basePath", root.toString)
        .parquet(files.map(f => s"$rootStr/$f"): _*)
      val packed =
        if (zorderBy.isEmpty)
          // deterministic per-partition salt spreads a large backlog over
          // ceil(bytes/target) writer tasks — each (partition, salt) group
          // is one task and one output file
          base.withColumn("__salt", pmod(hash(col("entity_id")),
              coalesce(element_at(typedLit(nOutFiles), partKey), lit(1))))
            .repartition((Statement.partitionColumns.map(col) :+ col("__salt")): _*)
        else {
          // clustering mode: range exchange on the z-code — task count
          // stays byte-proportional (sum of the bin targets), file
          // boundaries become data-space boundaries
          val n = math.max(1, parts.map(p => nOutFiles(valueKey(p))).sum)
          base.withColumn("__z", zColumn(base, zorderBy))
            .repartitionByRange(n,
              (Statement.partitionColumns.map(col) :+ col("__z")): _*)
        }
      writeStaged(packed, sortCols, preClustered = true,
        compression = Some(compressionForBucket(bucket)))
    }.toSet
    Manifest.commit(fs, root, (liveSet -- rewritten) ++ fresh, "compact",
      (liveStats -- rewritten) ++ statsFor(fresh))
  }

  /** S7: delete files referenced by NO retained snapshot. Retention keeps
    * the last `keepVersions` manifests' file sets readable (time travel /
    * in-flight readers pinned to a recent version); `keepVersions = 1`
    * reclaims everything but the current snapshot.
    *
    * Concurrency contract: `keepVersions >= 2` (the default) is REQUIRED
    * while any reader may still be pinned to `version - 1` — a reader
    * resolves its snapshot's file list once and reads those files for the
    * life of its job, and vacuum takes only the writer lock (readers are
    * lock-free by design). `keepVersions = 1` is safe only when the
    * caller knows no concurrent reader exists (pinned by StoreSpec
    * "vacuum contract").
    */
  // ---- snapshot pins: named version pointers (Iceberg-style tags) ----

  private val PinPrefix = "pins/"

  /** Pin snapshot `v` (default: current) under `name`. Pinned versions
    * are retained by [[vacuum]] regardless of `keepVersions`, so
    * [[rawAtPin]] stays readable past the rolling retention window — the
    * release/audit-freeze primitive on top of the manifest log. Returns
    * the pinned version.
    */
  def pin(name: String, v: Long = -1L): Long = Locks.withLock(fs, root) {
    Catalog.safePathComponent(name, "pin")
    val target = if (v >= 0) v else version
    require(Manifest.presentVersions(fs, root).contains(target),
      s"no such snapshot version to pin: $target")
    tags.put(PinPrefix + name, target.toString)
    target
  }

  def pinnedVersion(name: String): Option[Long] =
    tags.get(PinPrefix + name).map(_.trim.toLong)

  def unpin(name: String): Unit = tags.delete(PinPrefix + name)

  def pins(): Map[String, Long] =
    tags.keys(PinPrefix).flatMap { k =>
      tags.get(k).map(v => k.stripPrefix(PinPrefix) -> v.trim.toLong)
    }.toMap

  def rawAtPin(name: String): DataFrame =
    rawAt(pinnedVersion(name).getOrElse(
      throw new NoSuchElementException(s"no such pin: $name")))

  /** Frozen physical copy of snapshot `v` (default: current) at
    * `destRoot`: the snapshot's live files copy over and commit as the
    * clone's version 0 — a self-contained dataset sharing no storage
    * with the source, so source appends/merges/vacuums can never
    * invalidate it (the local-FS semantics; an object-store deployment
    * would swap the byte copy for a server-side/reference copy and keep
    * the same manifest commit). Zone-map stats carry over, so the
    * clone's changed-since file skipping works from the first read.
    */
  def cloneAt(destRoot: String, v: Long = -1L): StatementStore = {
    // the liveState read + byte copy run under the source's store lock:
    // a concurrent vacuum (which also locks) could otherwise expire the
    // cloned version's files mid-copy, leaving a clone of missing files
    Locks.withLock(fs, root) {
      val srcV = if (v >= 0) v else version
      require(Manifest.presentVersions(fs, root).contains(srcV),
        s"no such snapshot version to clone: $srcV")
      val (files, stats) = Manifest.liveState(fs, root, srcV)
      val dest = new Path(destRoot)
      val conf = spark.sessionState.newHadoopConf()
      val dfs = dest.getFileSystem(conf)
      // a clone is a FRESH table: committing into an existing manifest log
      // would splice foreign history into another table's timeline
      require(Manifest.currentVersion(dfs, dest) < 0,
        s"clone destination already has a manifest log: $destRoot")
      for (f <- files)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(root, f), dfs, new Path(dest, f), false, conf)
      Manifest.commit(dfs, dest, files, "clone", stats)
      // carry the dirty stamps: a clone of an UNMERGED source must stay
      // mergeable — without its dirt, clone.merge() finds nothing to do
      // and live serves pre-merge duplicates forever. The source's
      // current stamps are exact for a clone of the current version; a
      // clone of a HISTORICAL version whose dirt a later merge already
      // consumed may still need merge(force = true) (documented: stamps
      // are not versioned, only data files are).
      val destTags = new Tags(dfs, dest)
      for (k <- tags.list("dirty/"); v <- tags.get(k)) destTags.put(k, v)
    }
    new StatementStore(spark, destRoot, shards)
  }

  def vacuum(keepVersions: Int = 2): Seq[String] = Locks.withLock(fs, root) {
    // keepVersions = 0 would compute an empty retained set and delete
    // EVERY data file and manifest — a typo must not destroy the table
    require(keepVersions >= 1,
      s"vacuum(keepVersions = $keepVersions): must retain at least the current version")
    val current = version
    // pinned versions are always inside the retention window — a pin
    // extends the window back to the oldest pinned snapshot
    val keepFrom = (pins().values.toSeq :+
      math.max(0L, current - keepVersions + 1)).min
    // a prior vacuum with a tighter window may already have expired
    // manifests inside [keepFrom, current] — read only versions that still
    // exist, or liveFiles throws FileNotFoundException inside the lock
    val readable = Manifest.presentVersions(fs, root).filter(_ >= keepFrom)
    val retained = readable
      .flatMap(v => Manifest.liveFiles(fs, root, v)).toSet
    val orphans = (Manifest.physicalFiles(fs, root) -- retained).toSeq.sorted
    orphans.foreach(f => fs.delete(new Path(root, f), false))
    // expired snapshots are unreadable once their files are gone — reap
    // their manifests too, or commit metadata grows without bound
    Manifest.expire(fs, root, keepFrom)
    orphans
  }

  /** S8: soft-drop — remove the manifest (data files stay for forensics). */
  def destroy(): Unit = Locks.withLock(fs, root) {
    fs.delete(new Path(root, "_graft/manifest"), true)
  }
}
