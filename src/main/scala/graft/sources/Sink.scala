package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output layout control (the write half of the 100 TB story):
  *
  *  - partitioned writes give readers partition pruning (a date filter
  *    touches only matching directories — verified in SinkSpec's explain);
  *  - bucketed tables give shuffle-free joins/aggregations on the bucket
  *    key: two tables bucketed the same way join without an Exchange,
  *    which at fact-to-fact scale is the difference between a co-located
  *    join and re-shuffling 100 TB.
  */
object Sink {

  /** Write parquet partitioned by the given columns (hive-style dirs). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Save as a bucketed+sorted managed table (bucket pruning + shuffle-free
    * joins on `bucketCol` for any reader that joins on the same key).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Write parquet clustered along the Z-order curve of `dims`, so min/max
    * file statistics stay tight in EVERY listed dimension and multi-column
    * predicates skip files (see [[graft.operators.Layout]]). `files` bounds
    * the output file count (one per range partition).
    */
  def writeZOrdered(df: DataFrame, path: String,
                    dims: Seq[org.apache.spark.sql.Column],
                    files: Int, bits: Int = 16): Unit =
    graft.operators.Layout.zOrder(df, dims, files, bits)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Write parquet with per-column bloom filters — the data-skipping story
    * for POINT lookups on high-cardinality columns with no friendly layout:
    * min/max stats only skip when the column is clustered (sort/Z-order), but
    * an id sprayed uniformly across files spans every file's min/max range.
    * A bloom filter answers "definitely absent" per row group regardless of
    * layout, so the reader (parquet-mr row-group filtering under Spark's
    * pushed-down equality predicates) skips non-matching groups at footer
    * time. Size the filter with `expectedNdv` ~ the per-row-group distinct
    * count — undersizing inflates the false-positive rate and quietly turns
    * skipping off.
    *
    * parquet-mr drops the bloom when a chunk stays FULLY dictionary-encoded
    * (the dictionary is already an exact membership filter, so nothing is
    * lost). A production high-cardinality id overflows the dictionary page
    * and falls to plain encoding naturally; `disableDictionary` forces that
    * path for small/test data so the filter's presence can be asserted.
    */
  def writeBloomFiltered(df: DataFrame, path: String, cols: Seq[String],
                         expectedNdv: Long = 1L << 20,
                         disableDictionary: Boolean = false): Unit = {
    require(cols.nonEmpty, "writeBloomFiltered: no columns given")
    val writer = cols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      val base = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
      if (disableDictionary) base.option(s"parquet.enable.dictionary#$c", "false")
      else base
    }
    writer.parquet(path)
  }

  /** Hidden siblings used by the compaction swap. `.`-prefixed names are
    * invisible to Hadoop/Spark file discovery, so concurrent readers of the
    * table root never see a half-written rewrite as a data partition.
    */
  private def tmpFor(dir: Path) = new Path(dir.getParent, s".${dir.getName}._compact_tmp")
  private def oldFor(dir: Path) = new Path(dir.getParent, s".${dir.getName}._compact_old")
  private val DebrisName = """^\.(.+)\._compact_(?:tmp|old)$""".r

  /** One scoped session per compaction invocation (shared across the leaf
    * pool — SparkSession is thread-safe for job submission): the packing
    * knobs must not leak into concurrent queries on the caller's session.
    */
  private[sources] def scopedSession(spark: SparkSession, targetFileBytes: Long): SparkSession = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.files.maxPartitionBytes", targetFileBytes.toString)
    scoped.conf.set("spark.sql.files.openCostInBytes", "0")
    // without this, totalBytes/defaultParallelism shrinks the split size and
    // re-fragments small directories across `parallelism` output files
    scoped.conf.set("spark.sql.files.minPartitionNum", "1")
    scoped
  }

  /** URI schemes whose Hadoop FileSystem implements rename as a non-atomic
    * copy+delete (object stores). The swap protocol's crash-state machine
    * is sound only under atomic directory rename, so compaction refuses
    * these outright rather than risking a crash state outside the
    * enumerated (dir, old, tmp) triple. `abfs(s)` is included: its rename
    * is atomic only when the account has a hierarchical namespace, which
    * the client cannot verify cheaply — refusing the ambiguous case is the
    * safe default.
    */
  private[graft] val CopyRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
      "swift", "cos", "cosn")

  /** Refuse compaction on filesystems without atomic directory rename
    * (pure on the scheme string, so the contract is testable without an
    * object-store client on the classpath). Callers pass
    * `fs.getUri.getScheme` — never `fs.getScheme`, whose Hadoop base
    * implementation THROWS UnsupportedOperationException on FileSystems
    * that don't override it, which would refuse safe filesystems with an
    * unrelated error.
    */
  private[graft] def requireAtomicRename(scheme: String): Unit =
    if (scheme != null && CopyRenameSchemes.contains(scheme.toLowerCase)) {
      throw new UnsupportedOperationException(
        s"compaction requires atomic directory rename, which '$scheme' does not " +
          "provide (object-store rename is a non-atomic copy+delete, so a crash " +
          "mid-swap can corrupt the leaf) — on object stores, use the " +
          "manifest-committed table (graft.sources.ManifestStore.compact) instead")
    }

  /** Crash-state recovery for one leaf. The (dir, old, tmp) existence triple
    * is unambiguous because `old` is created only AFTER `tmp` is completely
    * written, and deleted only AFTER `tmp` was renamed into `dir`:
    *
    *  - no dir, old present       → crash between rename-aside and rename-in:
    *                                `old` is the complete original — restore it.
    *  - dir, old and tmp present  → same crash, but a writer recreated the
    *                                leaf since: `old` holds the only copy of
    *                                the pre-crash rows — merge its files back
    *                                into dir (tmp is a stale compaction of
    *                                exactly old's content; drop it).
    *  - dir and old, no tmp       → crash between rename-in and the old
    *                                cleanup: dir already holds the compacted
    *                                data — `old` is debris.
    *  - tmp without old           → crash mid-write of tmp: dir untouched,
    *                                tmp is garbage.
    */
  private def recoverLeaf(fs: FileSystem, dir: Path): Unit = {
    val tmp = tmpFor(dir)
    val old = oldFor(dir)
    if (fs.exists(old)) {
      if (!fs.exists(dir)) {
        if (!fs.rename(old, dir))
          throw new java.io.IOException(s"compaction recovery: rename $old -> $dir failed")
      } else if (fs.exists(tmp)) {
        // move only data files back — old's _SUCCESS/hidden markers must not
        // resurface as visible junk in the recreated leaf
        for (f <- fs.listStatus(old)
             if f.isFile && f.getPath.getName.endsWith(".parquet")) {
          // uniquify on collision (a second recovery cycle can reproduce the
          // same part names — a fixed suffix would collide and wedge the
          // leaf in a recovery loop)
          var target = new Path(dir, f.getPath.getName)
          var attempt = 0
          while (fs.exists(target)) {
            attempt += 1
            target = new Path(dir, s"part-recovered-$attempt-${f.getPath.getName}")
          }
          if (!fs.rename(f.getPath, target))
            throw new java.io.IOException(s"compaction recovery: rename ${f.getPath} -> $target failed")
        }
      }
      fs.delete(old, true)
    }
    fs.delete(tmp, true)
  }

  /** Compact a FLAT parquet directory of many small files into
    * ~`targetFileBytes` outputs — the small-files problem: a day of
    * micro-batch ingest (e.g. the streaming curate sink's per-batch appends)
    * leaves thousands of KB-size files whose per-file open + footer-read cost
    * comes to dominate every later scan.
    *
    * The rewrite is a pure file merge, not a shuffle: a scoped session reads
    * the SNAPSHOT of current files with `maxPartitionBytes = targetFileBytes`
    * (open cost zeroed), so the scan itself packs inputs into ~target-byte
    * splits and each task writes one output — a narrow-only plan whose bytes
    * are bounded by construction (compressed-to-compressed, so the ratio
    * carries over). Note any rewrite that merges files re-mixes row order;
    * a layout-sensitive directory (Z-order, sorted) should be re-laid-out
    * via [[writeZOrdered]] instead, and parquet writer properties (e.g.
    * bloom filters) must be re-specified via `writerOptions`.
    *
    * Crash safety: new files land in a hidden temp sibling, the original is
    * renamed aside, the temp renamed in, then the old copy dropped. `old` is
    * created only after `tmp` is complete and deleted only after `tmp` was
    * renamed in, so the (dir, old, tmp) existence triple identifies every
    * crash state unambiguously and [[recoverLeaf]] repairs it at the start
    * of the next call — including the case where a writer recreated the leaf
    * after a mid-swap crash.
    *
    * FILESYSTEM CONTRACT: the swap protocol is crash-safe only where
    * `FileSystem.rename` is an atomic directory move — HDFS, local/POSIX,
    * and other true filesystems. Object stores (s3a/gs/wasb and kin)
    * implement rename as a non-atomic copy+delete: a crash mid-"rename"
    * there produces states OUTSIDE the (dir, old, tmp) triple (e.g. a
    * half-copied `old` coexisting with `dir`), which recovery could then
    * mis-repair into duplicated or dropped rows. Compaction therefore
    * REFUSES known copy-rename schemes up front ([[requireAtomicRename]]);
    * on an object store, compact through a transactional table format
    * (Delta/Iceberg-style manifest commit), whose optimistic commit is the
    * object-store replacement for this rename swap. Concurrency: compaction assumes one logical
    * writer per leaf (compact SEALED partitions — yesterday's `date=…`, a
    * cell not being appended this cycle). If files land after the snapshot,
    * the rewrite is retried from a fresh snapshot (bounded), then aborts
    * cleanly with the directory untouched — a detected concurrent writer is
    * an error, never silent loss; closing the residual window between the
    * final check and the swap is what a transactional table format's
    * optimistic commit is for.
    *
    * Returns (filesBefore, filesAfter) — filesAfter is the real written
    * count (size-desc bin packing can exceed the byte-derived minimum by a
    * bin or two).
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L << 20,
                     writerOptions: Map[String, String] = Map.empty): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicRename(fs.getUri.getScheme)
    val dir = fs.makeQualified(new Path(path))
    compactLeaf(scopedSession(spark, targetFileBytes), fs, dir, writerOptions,
      allowMissing = false)
  }

  /** Rewrites of one leaf a concurrent writer may invalidate before
    * [[compactLeaf]] refuses.
    */
  private val MaxLeafAttempts = 3

  private def compactLeaf(scoped: SparkSession, fs: FileSystem, dir: Path,
                          writerOptions: Map[String, String],
                          allowMissing: Boolean): (Int, Int) = {
    recoverLeaf(fs, dir)
    if (!fs.exists(dir)) {
      // only the debris-discovery path may tolerate a still-missing dir
      // (leaf existed purely as recovered debris); a direct call on a
      // misspelled path must fail, not report success forever
      if (allowMissing) return (0, 0)
      throw new java.io.FileNotFoundException(s"compactParquet: no such directory $dir")
    }
    // refuse a dir that also has subdirectories: the whole-dir swap would
    // destroy them (stray files above hive partitions, a streaming file
    // sink's _spark_metadata log, an aborted child leaf's debris) — that
    // layout is not a compactable flat leaf
    val childDirs = fs.listStatus(dir).filter(_.isDirectory)
    if (childDirs.nonEmpty)
      throw new IllegalStateException(
        s"compactParquet: $dir contains subdirectories " +
          s"(${childDirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
          "not a flat leaf; compact its leaves via compactPartitions instead")
    val tmp = tmpFor(dir)
    val old = oldFor(dir)

    def parquetFiles() = fs.listStatus(dir).filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    // every file a reader can SEE (not `_`/`.`-prefixed metadata like
    // _SUCCESS): the swap replaces the whole directory, so a visible
    // non-parquet sidecar (schema.json, a CSV manifest) would be silently
    // DESTROYED — refuse such leaves, same posture as the subdirectory
    // refusal above, and fingerprint over the same visible set so a
    // concurrent writer creating one mid-rewrite aborts like any other
    def visibleFiles() = fs.listStatus(dir).filter(s => s.isFile && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })

    var attempt = 0
    while (true) {
      val snapshot = visibleFiles()
      val sidecars = snapshot.filterNot(_.getPath.getName.endsWith(".parquet"))
      if (sidecars.nonEmpty)
        throw new IllegalStateException(
          s"compactParquet: $dir contains visible non-parquet files " +
            s"(${sidecars.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
            "the directory swap would destroy them; move sidecars out first")
      val before = snapshot.length
      if (before == 0) return (0, 0)

      val writer = writerOptions.foldLeft(
        scoped.read.parquet(snapshot.map(_.getPath.toString).toIndexedSeq: _*)
          .write.mode(SaveMode.Overwrite)) { case (w, (k, v)) => w.option(k, v) }
      writer.parquet(tmp.toString)

      // the directory changed after the snapshot → this rewrite is stale;
      // retry from a fresh snapshot, then abort cleanly (dir untouched) — a
      // concurrent writer is an error, never silent loss. Compare the FULL
      // (name, length, modificationTime) triple over every VISIBLE file,
      // not parquet names alone: a writer that overwrites a part file in
      // place, deletes files, or drops a new sidecar changes the leaf
      // without adding a parquet name, and renaming the stale rewrite in
      // would silently revert (or destroy) that change.
      def fingerprint(fss: Array[org.apache.hadoop.fs.FileStatus]) =
        fss.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
      if (fingerprint(visibleFiles()) != fingerprint(snapshot)) {
        fs.delete(tmp, true)
        attempt += 1
        if (attempt >= MaxLeafAttempts)
          throw new java.io.IOException(
            s"compactParquet: concurrent writer detected on $dir after $attempt attempts — " +
              "compact sealed partitions only")
      } else {
        if (!fs.rename(dir, old))
          throw new java.io.IOException(s"compactParquet: rename-aside $dir -> $old failed")
        if (!fs.rename(tmp, dir)) {
          fs.rename(old, dir) // roll back so the directory never stays missing
          throw new java.io.IOException(s"compactParquet: rename-in $tmp -> $dir failed")
        }
        val after = parquetFiles().length
        fs.delete(old, true)
        return (before, after)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compact every hive-style leaf partition under `root` independently —
    * the production shape: compact yesterday's SEALED `date=.../` partition
    * while today's keeps ingesting into a different leaf. Leaf directory
    * names encode the partition values, so rewriting a leaf in place
    * preserves the hive layout for partition-pruned readers.
    *
    * Discovery also surfaces leaves that exist only as hidden compaction
    * debris (a crash mid-swap can leave a leaf's sole copy in its
    * `._compact_old` sibling with the visible dir gone): such leaves are
    * recovered and compacted like any other, so no partition can be
    * silently lost to an aborted earlier run.
    *
    * Leaves are compacted concurrently through a bounded pool (job
    * submission is thread-safe; each leaf is a small independent scan+write
    * job, so serializing them would pay per-job scheduling latency hundreds
    * of times on a dated table or a 128-cell ANN index). All leaves are
    * awaited even when one fails; failures are then reported together
    * (leaf names + first cause) so the caller knows exactly which leaves
    * completed. Returns leaf-relative path -> (before, after).
    */
  def compactPartitions(spark: SparkSession, root: String,
                        targetFileBytes: Long = 128L << 20,
                        writerOptions: Map[String, String] = Map.empty,
                        maxConcurrent: Int = 8): Map[String, (Int, Int)] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicRename(fs.getUri.getScheme)
    val rootPath = fs.makeQualified(new Path(root))
    def leaves(p: Path): Seq[Path] = {
      val children = fs.listStatus(p)
      val visible = children.filter(_.isDirectory).map(_.getPath)
        .filterNot(_.getName.startsWith("."))
      // a `.X._compact_*` sibling marks leaf X even when X itself is missing
      // (aborted swap) — recoverLeaf inside compactLeaf repairs it
      val debris = children.toIndexedSeq.flatMap(s =>
        if (s.isDirectory)
          DebrisName.findFirstMatchIn(s.getPath.getName).map(m => new Path(p, m.group(1)))
        else None)
      val debrisSet = debris.toSet
      val hasFiles = children.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      // a dir with parquet files AND subdirectories is a malformed mix
      // (stray files above hive partitions): recurse into the partitions —
      // they compact normally — and leave the loose files untouched rather
      // than classifying the whole dir as a flat leaf (whose swap
      // compactLeaf would rightly refuse, failing every partition under it)
      if (hasFiles && visible.isEmpty && debris.isEmpty) Seq(p)
      else (visible ++ debris).distinct.flatMap { d =>
        // a debris-marked dir IS a leaf candidate even when missing or
        // empty: its data may live only in the hidden sibling, which
        // recoverLeaf repairs when compactLeaf visits it; every other
        // listed dir exists by construction — recurse without re-probing
        if (debrisSet.contains(d)) Seq(d) else leaves(d)
      }
    }
    val found = leaves(rootPath).distinct
    if (found.isEmpty) return Map.empty
    val scoped = scopedSession(spark, targetFileBytes)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, found.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = found.map { leaf =>
        scala.concurrent.Future {
          val rel = leaf.toString.stripPrefix(rootPath.toString).stripPrefix("/")
          rel -> scala.util.Try(
            compactLeaf(scoped, fs, leaf, writerOptions, allowMissing = true))
        }
      }
      val results = scala.concurrent.Await
        .result(scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
      val failures = results.collect { case (rel, scala.util.Failure(e)) => (rel, e) }
      if (failures.nonEmpty)
        throw new java.io.IOException(
          s"compactPartitions: ${failures.size}/${results.size} leaves failed " +
            s"(${failures.map(_._1).mkString(", ")}); the rest completed",
          failures.head._2)
      results.collect { case (rel, scala.util.Success(r)) => rel -> r }.toMap
    } finally pool.shutdown()
  }
}
