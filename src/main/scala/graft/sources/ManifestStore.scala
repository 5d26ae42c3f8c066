package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{assert_true, coalesce, col, concat, expr, lit, not, struct, to_json}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Manifest-committed parquet table — the OBJECT-STORE answer to the
  * rename-swap compaction in [[Sink]] (whose `requireAtomicRename` refuses
  * s3a/gs/wasb up front). Same public pattern as Delta/Iceberg commit
  * logs, reduced to the minimum the engine needs:
  *
  *  - **Readers never list data directories.** A snapshot is exactly the
  *    file list in the highest INTACT manifest under `_manifests/`; files
  *    a crashed or in-flight writer left behind are invisible because no
  *    manifest references them.
  *  - **Writers never rename.** Each append writes its parquet to a fresh
  *    `data/batch-<uuid>/` directory (single-writer, collision-free), then
  *    commits a new manifest version referencing those files in place.
  *    A crash before commit leaves an unreferenced directory that
  *    [[vacuum]] collects; a crash after commit is a completed write.
  *  - **Commits are atomic via create-exclusive**, not rename.
  *    Concurrent committers race for the next version number; the loser
  *    REBASES onto the winner's snapshot and retries (appends union their
  *    files in; compactions re-apply replace-only-what-I-read, or ABANDON
  *    when their inputs were already replaced), so no committed write is
  *    ever lost — optimistic concurrency, the object-store replacement
  *    for the swap protocol's single-writer contract.
  *  - **Torn manifests are detectable, not trusted**: the last line is an
  *    md5 of everything above it, so a reader seeing a half-written
  *    manifest falls back to the previous intact version. Because a torn
  *    slot can be a committer that is still WRITING (create and close are
  *    not one atomic step on a real filesystem), torn slots above the
  *    intact head get a GRACE window keyed on their mtime: committers
  *    wait for a young torn slot to either become intact or age out
  *    before building past it — without the wait, a slow writer's
  *    committed version could be silently orphaned by the next commit.
  *  - **Data skipping** (r10): every committed file line carries its row
  *    count, per-column min/max + null counts (harvested from the parquet
  *    FOOTER at append time — metadata-only, never a second data scan)
  *    and, for partitioned tables, its exact hive partition values.
  *    [[readWhere]] prunes the snapshot's file list against pushed
  *    predicates before the scan plans — at 100 TB the difference
  *    between a scan and a lookup. See [[ManifestStats]].
  *  - **Schema travels in the manifest** (r10): each commit records the
  *    table schema (the union of every appended batch's columns), so
  *    reads resolve against an EXPLICIT schema — a batch may add new
  *    nullable columns (old files read as null) or omit existing ones
  *    (its files read as null there), while type changes are refused at
  *    the append AND re-checked inside the commit rebase (two widenings
  *    racing the same new column with different types cannot both land).
  *    Time travel replays the schema THAT version had.
  *
  * '''Commit-point contract''': `FileSystem.create(path, overwrite=false)`
  * must atomically fail on an existing path. HDFS provides this natively.
  * The local filesystem's Hadoop `create` is check-then-act, so the
  * `file:` scheme is special-cased through `File.createNewFile()` (POSIX
  * `O_CREAT|O_EXCL`, atomic) — which also makes single-box multi-threaded
  * use sound. Object stores map the claim to a conditional PUT
  * (If-None-Match); that requires a connector that actually implements it
  * (e.g. Hadoop 3.4.1+ s3a conditional create) — on a connector whose
  * create is a HEAD-then-PUT race, commits can be lost, mirroring exactly
  * the rename caveat [[Sink.requireAtomicRename]] documents. The first
  * commit through any non-local filesystem runs [[verifyCommitPoint]]
  * (r10): a create-exclusive pair on a scratch key that turns a
  * silently-overwriting connector into a loud refusal before any commit
  * is risked.
  *
  * Compaction here is [[compact]]: read the current snapshot, rewrite it
  * into ~targetFileBytes files (same narrow packing scan as
  * [[Sink.compactParquet]]), commit a manifest that references only the
  * new files — partition grouping (and the partition-pruning it buys) is
  * preserved, since the rewrite re-partitions by the table's partition
  * columns. Old files stay on disk for in-flight readers of older
  * snapshots (time travel via [[readVersion]] is free) until [[vacuum]]
  * drops everything unreferenced by the kept versions and older than a
  * safety age (keyed on the files INSIDE a batch directory — object
  * stores report synthetic mtimes for directory markers).
  *
  * 100 TB posture: the manifest holds one line per live FILE (at the
  * 128 MB target that is ~8k lines per PB — a driver-side text file, fine
  * up to millions of files); data bytes move only when compaction
  * rewrites them, never for a commit; reads prune to exactly the listed
  * files that can match the predicate, with no LIST-under-prefix race.
  * Reference analog: the engine's ingest utilities stage whole datasets
  * (chapter2/DataUtilities.java:33-89); this is the curated-output side
  * of that pipeline at scale.
  */
object ManifestStore {

  import ManifestStats.ColStats

  /** A file's deletion vector (r11): `path` is ONE immutable parquet file
    * of `(fkey, pos)` rows — `pos` the 0-based row index (parquet
    * `_metadata.row_index`) of a DELETED row in the data file, `fkey` the
    * md5 of the data file's path string (the join key a scan computes as
    * `md5(_metadata.file_path)`). `rows` = how many positions it holds
    * (live rows = entry.rows - dv.rows). A later delete on the same file
    * MERGES (old ∪ new) into a fresh dv file — an entry always references
    * exactly one current dv.
    */
  final case class DvRef(path: String, rows: Long)

  /** One live data file: URI + size, its physical row count, per-column
    * min/max/null stats and — on a partitioned table — its exact hive
    * partition values (inner None = the hive null partition). Every entry
    * carries its row count: the manifest parser refuses a file line
    * without one (a pre-r10 table). Missing stats only disable skipping,
    * never correctness. `dv` (r11) is the file's deletion vector — rows
    * at those positions are DELETED and every read path must apply it
    * (merge-on-read DELETE).
    */
  final case class ManifestEntry(path: String, bytes: Long,
                                 rows: Long,
                                 stats: Map[String, ColStats] = Map.empty,
                                 partition: Option[Map[String, Option[String]]] = None,
                                 dv: Option[DvRef] = None)

  /** `txns` carries the highest committed batch id per streaming writer
    * (appId): foreachBatch delivery is at-least-once, so a retried
    * micro-batch must be detectable AT THE COMMIT, not by the caller —
    * the same public idempotent-writes pattern as Delta's txnAppId/
    * txnVersion. Compactions and plain appends preserve the map.
    * `schema` is the table schema AS OF this version (logical — includes
    * partition columns, which are not stored in the data files);
    * `partCols` the hive partition column names. `schema` is None only
    * on a snapshot without files: the manifest parser refuses a
    * file-bearing manifest without a `schema=` line (a pre-r10 table).
    * `op` (r12) names THE operation that committed this version
    * (append/compact/materialize/delete/upsert/mor-delete/
    * mor-upsert) — the Delta `dataChange` idea as a commit-level marker:
    * physical-only ops ([[PhysicalOps]]) let a tail/change-feed consumer
    * SKIP the rewrite instead of refusing, so table maintenance stops
    * breaking every downstream stream. Empty on pre-r12 manifests —
    * consumers treat unknown as data-changing (the conservative refusal).
    *
    * r13 resolution metadata (set by the resolver, never by builders):
    * `checkpointVersion` = the SELF-CONTAINED manifest this version's
    * chain replays from (its own version for a checkpoint) — vacuum keeps
    * every manifest at or above the kept snapshots' minimum so chains stay
    * replayable; `deltaDepth` = how many delta manifests sit between this
    * version and its checkpoint (the committer writes a fresh checkpoint
    * when the depth would reach [[checkpointInterval]]); `addedBytes` =
    * the `addbytes=` commit marker — data bytes this version ADDED over
    * its base (None on pre-r13 manifests), the O(1) input the streaming
    * source's byte-budget admission reads instead of diffing file sets.
    */
  /** A write-path invariant carried by the manifest (r15 — the Delta
    * constraints shape). `kind` is `"notnull"` (`target` = the LOGICAL
    * column name) or `"check"` (`target` = a SQL boolean expression over
    * logical columns). Enforced at EVERY seam that lands new or modified
    * row values (append, streaming append, CoW/MoR upsert, MoR update);
    * a violating batch refuses the whole commit loudly with the first
    * offending row rendered. CHECK follows the SQL standard: only a row
    * where the expression evaluates to FALSE violates (NULL passes).
    */
  final case class Constraint(name: String, kind: String, target: String) {
    require(kind == "notnull" || kind == "check", s"unknown constraint kind $kind")
    def describe: String =
      if (kind == "notnull") s"NOT NULL $target" else s"CHECK ($target)"
  }

  /** A per-file Bloom point-lookup index registered in the manifest (r15,
    * VERDICT r14 #6 — the pruning tier z-order can't give on
    * non-clustered ids). `columns` are PHYSICAL names (files and their
    * sidecars outlive renames); `dirs` are sidecar directory NAMES under
    * `root/data/` — each holds parquet rows (file, column, items, bits)
    * where `bits` is a serialized `org.apache.spark.util.sketch
    * .BloomFilter` over that file's PHYSICAL rows (deleted rows only add
    * false positives — conservative). Strictly a HINT: the line is
    * tab-free so pre-r15 readers skip it under the v2 unknown-marker rule
    * and simply don't bloom-prune; correctness never depends on it.
    * Incremental builds append dirs (files already covered are not
    * re-read); a build with different columns/fpp REPLACES the ref, the
    * old dirs becoming vacuum food like any unreferenced batch.
    */
  final case class BloomIndex(columns: Seq[String], fpp: Double,
                              dirs: Seq[String]) {
    require(columns.nonEmpty && dirs.forall(d => !d.contains(",") &&
      !d.contains(";") && !d.contains("\t") && !d.contains("\n")),
      s"bloom index ref not manifest-safe: $this")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1): $fpp")
  }

  final case class Snapshot(version: Long, files: Seq[ManifestEntry],
                            txns: Map[String, Long] = Map.empty,
                            schema: Option[StructType] = None,
                            partCols: Seq[String] = Nil,
                            op: String = "",
                            tableId: String = "",
                            checkpointVersion: Long = 0L,
                            deltaDepth: Int = 0,
                            addedBytes: Option[Long] = None,
                            colMap: Map[String, String] = Map.empty,
                            droppedPhys: Seq[String] = Nil,
                            constraints: Seq[Constraint] = Nil,
                            properties: Map[String, String] = Map.empty,
                            bloomIdx: Option[BloomIndex] = None) {

    /** Physical (parquet/file-layout) name of a LOGICAL column (r14 column
      * mapping): identity unless a rename re-pointed it. Physical names
      * are assigned at column BIRTH and never change — a rename only moves
      * the logical label, which is what makes it a metadata-only commit.
      */
    def physOf(logical: String): String = colMap.getOrElse(logical, logical)

    /** Every physical name in use or retired — the collision domain a
      * widening append's NEW columns must avoid (a new logical column's
      * physical name is its own name; colliding with a live or dropped
      * physical would read the OLD files' orphaned data as the new
      * column's).
      */
    def physicalNames: Set[String] =
      schema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
        .map(physOf).toSet ++ droppedPhys
  }

  /** Commit kinds that rewrite BYTES without changing the table's live
    * rows — a version-range consumer skips them (after verifying live-row
    * conservation from the manifest's own counts, so a mislabeled commit
    * can never smuggle a data change past a tail).
    */
  private val PhysicalOps = Set("compact", "materialize", "bloom", "bloom-drop")

  /** Manifest FORMAT versions (r13, advice r12). v1 is the original
    * self-contained format, still read (and was silently extended with
    * `op=`/`table=` lines in r12 — the break this versioning now
    * prevents from repeating). v2 (r13) adds DELTA manifests and new
    * marker lines under an explicit protocol rule:
    *
    *  - a reader MUST refuse a format version above [[MaxFormatVersion]]
    *    LOUDLY ([[UnsupportedManifestVersionException]] propagates out of
    *    resolution, never a silent fall-back to an older intact version —
    *    a mixed-version deployment fails visibly instead of serving stale
    *    data);
    *  - within a version it knows, a reader SKIPS unrecognized
    *    `key=value` marker lines (forward compatibility for minor
    *    additions — a v2 writer may add markers without tearing v2
    *    readers). File-entry lines are unambiguous: paths are
    *    scheme-qualified URIs, which can never match the `^[a-z0-9_]+=`
    *    marker shape (enforced at render).
    */
  private val Header = "graft-manifest v1"
  private val Header2 = "graft-manifest v2"
  // v3 (r14) = v2 plus COLUMN MAPPING markers: `colmap=` (logical→physical
  // name pairs, tab-separated) and `dropped=` (retired physical names).
  // Only manifests of a table that actually CARRIES a mapping are written
  // v3 — plain tables keep writing v2, and pre-r14 readers refuse a mapped
  // table LOUDLY (reading its physical columns under stale logical names
  // would silently serve renamed/dropped data).
  private val Header3 = "graft-manifest v3"
  private val HeaderPrefix = "graft-manifest v"
  private val MaxFormatVersion = 3

  /** A manifest written by a NEWER format version than this reader
    * understands. Deliberately NOT swallowed by the torn-manifest catch:
    * treating it as torn would silently serve the previous intact
    * version's (stale) data.
    */
  class UnsupportedManifestVersionException(msg: String)
    extends java.io.IOException(msg)

  /** A checksum-valid manifest of a pre-r10 table: it lists files but has
    * no `schema=` line, or a file line carries no parseable row count.
    * Such tables are no longer read — every path that resolves the
    * version refuses, exactly like a newer format; it is never read as a
    * torn slot (that would serve an older version, or let vacuum treat
    * the version's files as unreferenced).
    */
  final class PreR10ManifestException(msg: String)
    extends UnsupportedManifestVersionException(msg)

  /** How many delta manifests may stack on one self-contained checkpoint
    * before the next commit writes a fresh checkpoint (the Delta-log
    * checkpoint cadence). Test seam; the default keeps worst-case cold
    * resolution at one O(files) parse + ≤15 O(delta) parses.
    */
  @volatile private[graft] var checkpointInterval: Int = 16

  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"
  private val MarkerShape = java.util.regex.Pattern.compile("^[a-z][a-z0-9_]*=")
  private def manifestsDir(root: Path) = new Path(root, "_manifests")
  private def dataDir(root: Path) = new Path(root, "data")
  private def manifestPath(root: Path, v: Long) =
    new Path(manifestsDir(root), f"v$v%020d.manifest")
  private val ManifestName = """^v(\d{20})\.manifest$""".r

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** One manifest file, parsed: either SELF-CONTAINED (a v1 manifest or a
    * v2 checkpoint — the full snapshot) or a v2 DELTA against an earlier
    * intact base version.
    */
  private sealed trait Parsed
  private final case class FullManifest(s: Snapshot) extends Parsed
  private final case class DeltaManifest(d: DeltaRec) extends Parsed

  /** The body of a delta manifest: everything that CHANGED vs `base`.
    * `entries` are added files AND in-place replacements (same path,
    * re-pointed dv or enriched stats); `removed` are paths dropped;
    * `txns` only the watermarks that moved; `schema`/`partCols` only when
    * they changed (None = inherit the base's).
    */
  private final case class DeltaRec(version: Long, base: Long, op: String,
                                    tableId: String, txns: Map[String, Long],
                                    schema: Option[StructType],
                                    partCols: Option[Seq[String]],
                                    removed: Seq[String],
                                    entries: Seq[ManifestEntry],
                                    addedBytes: Option[Long],
                                    colMap: Option[Map[String, String]] = None,
                                    droppedPhys: Option[Seq[String]] = None,
                                    constraints: Option[Seq[Constraint]] = None,
                                    properties: Option[Map[String, String]] = None,
                                    // tri-state: None = inherit, Some(None)
                                    // = explicit clear, Some(Some) = set
                                    bloomIdx: Option[Option[BloomIndex]] = None)

  private def requireSafe(v: String, what: String): Unit =
    require(!v.contains('\n') && !v.contains('\t'),
      s"$what not manifest-safe: '$v'")

  private def appendSchema(body: Appendable, sc: StructType): Unit = {
    val json = sc.json
    require(!json.contains('\n') && !json.contains('\t'),
      "schema json not manifest-safe (raw control characters)")
    body.append("schema=").append(json).append('\n')
  }

  private def appendPartCols(body: Appendable, partCols: Seq[String]): Unit = {
    partCols.foreach(c => require(
      !c.contains(',') && !c.contains('\n') && !c.contains('\t') && c.nonEmpty,
      s"partition column name not manifest-safe: '$c'"))
    body.append("partcols=").append(partCols.mkString(",")).append('\n')
  }

  private def appendTxns(body: Appendable, txns: Map[String, Long]): Unit =
    txns.toSeq.sortBy(_._1).foreach { case (appId, batchId) =>
      require(!appId.contains('\n') && !appId.contains('\t') && appId.nonEmpty,
        s"appId not manifest-safe: '$appId'")
      body.append("txn=").append(appId).append('\t')
        .append(batchId.toString).append('\n')
    }

  private def appendEntry(body: Appendable, f: ManifestEntry): Unit = {
    require(!f.path.contains('\n') && !f.path.contains('\t'),
      s"file path not manifest-safe: ${f.path}")
    // file paths are scheme-qualified URIs, so they can never match the
    // marker shape — enforced rather than assumed (the v2 forward-compat
    // rule depends on it: unknown markers are skipped, file lines are not)
    require(!MarkerShape.matcher(f.path).find(),
      s"file path collides with the marker-line shape: ${f.path}")
    body.append(f.path).append('\t').append(f.bytes.toString).append('\t')
      .append(ManifestStats.renderMeta(f.rows, f.stats, f.partition, f.dv))
      .append('\n'): Unit
  }

  /** STREAM a manifest body straight into `out` through an md5 digest —
    * a checkpoint at the 800k-entry design point is ~134 MB of text, and
    * building it as a StringBuilder + String + byte[] before writing
    * churned ~3× that in transient heap per checkpoint commit (the max
    * spikes ManifestCommitSlo measured). The checksum trailer is written
    * with digesting OFF, exactly the framing [[checksumValidBody]] reads.
    */
  private def streamManifest(out: java.io.OutputStream)
                            (body: Appendable => Unit): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new java.security.DigestOutputStream(
      new java.io.BufferedOutputStream(out, 1 << 16), md)
    val w = new java.io.OutputStreamWriter(dig, StandardCharsets.UTF_8)
    body(w)
    w.flush()
    val sum = org.apache.commons.codec.binary.Hex.encodeHexString(md.digest())
    dig.on(false)
    w.append("checksum=").append(sum).append('\n')
    w.flush()
  }

  /** A table with live column mapping, constraints or properties writes
    * format v3; everything else stays v2 (no gratuitous refusal for
    * pre-r14 readers). Constraints FORCE v3 deliberately: a pre-r15
    * writer cannot enforce them, so it must refuse the table loudly
    * rather than land unvalidated rows.
    */
  private def headerOf(s: Snapshot): String =
    if (s.colMap.nonEmpty || s.droppedPhys.nonEmpty ||
        s.constraints.nonEmpty || s.properties.nonEmpty) Header3 else Header2

  /** `colmap=` logical→physical pairs and `dropped=` retired physical
    * names — tab-separated (names are tab/newline-rejected at the rename/
    * drop API). Emitted only on v3 manifests; order is sorted so renders
    * are byte-deterministic.
    */
  private def appendColMap(body: Appendable, m: Map[String, String]): Unit = {
    m.foreach { case (l, p) =>
      requireSafe(l, "colmap logical name"); requireSafe(p, "colmap physical name")
      require(!l.contains('\t') && !p.contains('\t'), s"colmap name has a tab: $l/$p")
    }
    body.append("colmap=").append(m.toSeq.sorted
      .map { case (l, p) => s"$l\t$p" }.mkString("\t")).append('\n')
  }

  private def appendDropped(body: Appendable, d: Seq[String]): Unit = {
    d.foreach { p =>
      requireSafe(p, "dropped physical name")
      require(!p.contains('\t'), s"dropped name has a tab: $p")
    }
    body.append("dropped=").append(d.mkString("\t")).append('\n')
  }

  /** `constraints=` name/kind/target triples; `properties=` key/value
    * pairs — tab-separated (all parts tab/newline-rejected at the API).
    * Emitted only on v3 manifests; properties sorted for byte-determinism
    * (constraints keep their declaration order — it is user-visible in
    * DESCRIBE DETAIL).
    */
  private def appendConstraints(body: Appendable, cs: Seq[Constraint]): Unit = {
    cs.foreach { c =>
      requireSafe(c.name, "constraint name"); requireSafe(c.target, "constraint target")
    }
    body.append("constraints=").append(cs
      .map(c => s"${c.name}\t${c.kind}\t${c.target}").mkString("\t")).append('\n')
  }

  /** `bloomidx=` — deliberately TAB-FREE (`<fpp>;<cols ,-joined>;<dirs
    * ,-joined>`, or `-` for an explicit clear) so pre-r15 readers skip it
    * under the v2 unknown-marker rule instead of tearing the manifest: a
    * Bloom ref is a pruning hint, not load-bearing state, so it must not
    * force a format refusal the way constraints do. Column and dir names
    * are comma/semicolon-rejected at the build API.
    */
  private def appendBloomIdx(body: Appendable, b: Option[BloomIndex]): Unit = {
    val rendered = b match {
      case None => "-"
      case Some(ix) =>
        (ix.columns ++ ix.dirs).foreach { n =>
          requireSafe(n, "bloom index name")
          require(!n.contains(",") && !n.contains(";"),
            s"bloom index name not marker-safe: '$n'")
        }
        s"${ix.fpp};${ix.columns.mkString(",")};${ix.dirs.mkString(",")}"
    }
    require(!rendered.contains('\t'), s"bloomidx line grew a tab: $rendered")
    body.append("bloomidx=").append(rendered).append('\n')
  }

  private def parseBloomIdx(s: String): Option[Option[BloomIndex]] =
    if (s == "-") Some(None)
    else s.split(";", -1) match {
      case Array(fpp, cols, dirs) if cols.nonEmpty =>
        try Some(Some(BloomIndex(cols.split(",", -1).toSeq.filter(_.nonEmpty),
          fpp.toDouble, dirs.split(",", -1).toSeq.filter(_.nonEmpty))))
        catch { case _: IllegalArgumentException => None }
      case _ => None
    }

  private def appendProperties(body: Appendable, m: Map[String, String]): Unit = {
    m.foreach { case (k, v) =>
      requireSafe(k, "property key"); requireSafe(v, "property value")
      require(k.nonEmpty && v.nonEmpty,
        s"property key/value must be non-empty (UNSET removes a key): '$k'='$v'")
    }
    body.append("properties=").append(m.toSeq.sorted
      .map { case (k, v) => s"$k\t$v" }.mkString("\t")).append('\n')
  }

  /** A v2 CHECKPOINT manifest: self-contained (the v1 body shape plus the
    * `addbytes=` marker), the replay anchor of every delta chain.
    */
  private def renderFull(s: Snapshot, addedBytes: Long)
      : java.io.OutputStream => Unit = out => streamManifest(out) { body =>
    body.append(headerOf(s)).append('\n')
    body.append("version=").append(s.version.toString).append('\n')
    body.append("addbytes=").append(addedBytes.toString).append('\n')
    s.schema.foreach(appendSchema(body, _))
    if (s.colMap.nonEmpty) appendColMap(body, s.colMap)
    if (s.droppedPhys.nonEmpty) appendDropped(body, s.droppedPhys)
    if (s.constraints.nonEmpty) appendConstraints(body, s.constraints)
    if (s.properties.nonEmpty) appendProperties(body, s.properties)
    if (s.bloomIdx.nonEmpty) appendBloomIdx(body, s.bloomIdx)
    if (s.partCols.nonEmpty) appendPartCols(body, s.partCols)
    if (s.op.nonEmpty) {
      requireSafe(s.op, "op"); body.append("op=").append(s.op).append('\n')
    }
    if (s.tableId.nonEmpty) {
      requireSafe(s.tableId, "tableId")
      body.append("table=").append(s.tableId).append('\n')
    }
    appendTxns(body, s.txns)
    s.files.foreach(appendEntry(body, _))
  }

  /** A v2 DELTA manifest: O(changed entries) — the commit-side answer to
    * the O(live files) write amplification (r13, VERDICT r12 #1). Body:
    * `base=` names the intact version the commit built on (NOT blindly
    * version-1: torn slots durably exist in the sequence), `rm=` lines
    * drop files, entry lines add or in-place replace (same path), `txn=`
    * lines carry only moved watermarks, `schema=` only a widening.
    */
  private def renderDelta(s: Snapshot, base: Snapshot, removed: Seq[String],
                          changed: Seq[ManifestEntry], addedBytes: Long)
      : java.io.OutputStream => Unit = out => streamManifest(out) { body =>
    // A delta that CHANGES the mapping must carry the v3 header even when
    // the new state is EMPTY (a rename-back or restore that resets
    // colMap/droppedPhys): parseStrict only honors `colmap=`/`dropped=`
    // markers at fmtV>=3, so a v2-headed reset delta would have its reset
    // lines skipped by the v2 unknown-marker rule and every cold chain
    // resolution would silently keep the stale mapping (ADVICE r14 #1).
    val hdr =
      if (s.colMap != base.colMap || s.droppedPhys != base.droppedPhys ||
          s.constraints != base.constraints || s.properties != base.properties)
        Header3
      else headerOf(s)
    body.append(hdr).append('\n')
    body.append("version=").append(s.version.toString).append('\n')
    body.append("base=").append(base.version.toString).append('\n')
    body.append("addbytes=").append(addedBytes.toString).append('\n')
    if (s.schema != base.schema) s.schema.foreach(appendSchema(body, _))
    if (s.colMap != base.colMap) appendColMap(body, s.colMap)
    if (s.droppedPhys != base.droppedPhys) appendDropped(body, s.droppedPhys)
    if (s.constraints != base.constraints) appendConstraints(body, s.constraints)
    if (s.properties != base.properties) appendProperties(body, s.properties)
    if (s.bloomIdx != base.bloomIdx) appendBloomIdx(body, s.bloomIdx)
    if (s.partCols != base.partCols) appendPartCols(body, s.partCols)
    if (s.op.nonEmpty) {
      requireSafe(s.op, "op"); body.append("op=").append(s.op).append('\n')
    }
    if (s.tableId.nonEmpty) {
      requireSafe(s.tableId, "tableId")
      body.append("table=").append(s.tableId).append('\n')
    }
    appendTxns(body, s.txns.filter { case (a, b) => !base.txns.get(a).contains(b) })
    removed.foreach { p =>
      requireSafe(p, "removed path")
      body.append("rm=").append(p).append('\n')
    }
    changed.foreach(appendEntry(body, _))
  }

  /** The bytes to commit for snapshot `s` built on `base`: a DELTA when a
    * base exists, its chain is shorter than [[checkpointInterval]], and
    * the delta is actually smaller than the full list (a compaction that
    * rewrites most of the table checkpoints directly); otherwise a
    * self-contained CHECKPOINT. Either way the `addbytes=` marker records
    * the data bytes this version added over its base.
    */
  private def encodeCommit(base: Option[Snapshot], s: Snapshot)
      : (java.io.OutputStream => Unit, Snapshot) = {
    // APPEND fast path: every commit builder that only ADDS files returns
    // `base.files ++ mine` — the shared prefix is detectable by REFERENCE
    // (O(files) pointer compares, no hash maps), and the diff is exactly
    // the suffix. This is the streaming sink's per-micro-batch shape; the
    // general diff below allocates two O(live files) hash structures per
    // commit, the dominant in-memory term at the 800k-entry design point.
    val appendSuffix: Option[Seq[ManifestEntry]] = base.flatMap { b =>
      if (s.files.length < b.files.length) None
      else {
        val bi = b.files.iterator; val si = s.files.iterator
        var same = true
        while (same && bi.hasNext) { same = bi.next() eq si.next() }
        if (same) Some(s.files.drop(b.files.length)) else None
      }
    }
    val addedBytes = appendSuffix match {
      case Some(suffix) => suffix.map(_.bytes).sum
      case None =>
        val basePaths = base.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        s.files.filterNot(f => basePaths(f.path)).map(_.bytes).sum
    }
    def checkpoint = (renderFull(s, addedBytes),
      s.copy(checkpointVersion = s.version, deltaDepth = 0,
        addedBytes = Some(addedBytes)))
    base match {
      case Some(b) if b.deltaDepth + 1 < checkpointInterval =>
        val (removed, changed) = appendSuffix match {
          case Some(suffix) => (Seq.empty[String], suffix)
          case None =>
            val basePaths = b.files.map(f => f.path -> f).toMap
            val newPaths = s.files.map(_.path).toSet
            (b.files.map(_.path).filterNot(newPaths),
              s.files.filter(f => !basePaths.get(f.path).contains(f)))
        }
        if (removed.size + changed.size >= s.files.size) checkpoint
        else (renderDelta(s, b, removed, changed, addedBytes),
          s.copy(checkpointVersion = b.checkpointVersion,
            deltaDepth = b.deltaDepth + 1, addedBytes = Some(addedBytes)))
      case _ => checkpoint
    }
  }

  /** Seed [[snapshotCache]] with a snapshot this JVM just COMMITTED (it is
    * exactly what resolution would reconstruct), so the committer's own
    * next read is a cache hit instead of an O(files) delta apply —
    * best-effort (a failed status probe just re-resolves later).
    */
  private def seedCache(fs: FileSystem, root: Path, resolved: Snapshot): Unit =
    try {
      val st = fs.getFileStatus(manifestPath(root, resolved.version))
      snapshotCache.put(
        (root.toString, resolved.version, st.getLen, st.getModificationTime),
        resolved): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Throw iff the FIRST LINE declares a format version above
    * [[MaxFormatVersion]] — inspected on the raw bytes, before any
    * trailer validation (a newer format may have changed the trailer).
    */
  private def refuseNewerFormat(bytes: Array[Byte]): Unit = {
    val probeLen = math.min(bytes.length, 64)
    val nl = bytes.take(probeLen).indexOf('\n'.toByte)
    val head = new String(bytes, 0, if (nl < 0) probeLen else nl,
      StandardCharsets.UTF_8)
    if (head.startsWith(HeaderPrefix)) {
      val num = head.stripPrefix(HeaderPrefix)
      if (num.nonEmpty && num.forall(_.isDigit) && num.toLong > MaxFormatVersion)
        throw new UnsupportedManifestVersionException(
          s"manifest format '$head' is newer than this reader's " +
            s"(max v$MaxFormatVersion) — upgrade the reader; refusing rather " +
            "than silently serve an older version's stale snapshot")
    }
  }

  /** Read and parse manifest `v` of `root`; None when absent or torn/
    * corrupt (bad header, bad checksum, version mismatch with its file
    * name, malformed schema json) — callers treat that version slot as
    * not (yet) committed. A format version ABOVE [[MaxFormatVersion]] and
    * a pre-r10 manifest throw [[UnsupportedManifestVersionException]]
    * instead: silently treating either as torn would serve stale data.
    */
  private def parse(fs: FileSystem, root: Path, v: Long): Option[Parsed] =
    readManifestBytes(fs, root, v).flatMap { bytes =>
      try parseStrict(bytes, root, v)
      catch {
        case e: UnsupportedManifestVersionException => throw e
        case scala.util.control.NonFatal(_) => None
      }
    }

  /** The manifest body iff the checksum trailer validates — the ONE
    * definition of the intactness framing, shared by the full parser and
    * the hint validator so the two can never drift (review r11).
    */
  private def checksumValidBody(bytes: Array[Byte]): Option[String] = {
    val text = new String(bytes, StandardCharsets.UTF_8)
    val ck = text.lastIndexOf("checksum=")
    if (ck < 0 || !text.endsWith("\n")) return None
    val body = text.substring(0, ck)
    val sum = text.substring(ck + "checksum=".length).trim
    if (org.apache.commons.codec.digest.DigestUtils.md5Hex(
        body.getBytes(StandardCharsets.UTF_8)) != sum) None
    else Some(body)
  }

  private def parseStrict(bytes: Array[Byte], root: Path,
                          expectVersion: Long): Option[Parsed] = {
    // the NEWER-format refusal must come BEFORE checksum validation: a
    // future format may change the trailer itself, and validating first
    // would silently read its manifests as torn — exactly the stale-data
    // failure the version gate exists to prevent
    refuseNewerFormat(bytes)
    val body = checksumValidBody(bytes).getOrElse(return None)
    val lines = body.split("\n", -1).toSeq.dropRight(1) // trailing ""
    if (lines.isEmpty) return None
    val fmtV = lines.head match {
      case Header => 1
      case Header2 => 2
      case Header3 => 3
      case _ => return None
    }
    val isV2 = fmtV >= 2
    val v = lines.lift(1).collect { case s if s.startsWith("version=") =>
      s.stripPrefix("version=").toLong }
    if (!v.contains(expectVersion)) return None
    var base: Option[Long] = None
    var addedBytes: Option[Long] = None
    var schema: Option[StructType] = None
    var partCols: Option[Seq[String]] = None
    var colMap: Option[Map[String, String]] = None
    var droppedPhys: Option[Seq[String]] = None
    var constraints: Option[Seq[Constraint]] = None
    var properties: Option[Map[String, String]] = None
    var bloomIdx: Option[Option[BloomIndex]] = None
    var op: String = ""
    var tableId: String = ""
    val txns = Map.newBuilder[String, Long]
    val removed = Seq.newBuilder[String]
    val files = Seq.newBuilder[ManifestEntry]
    // the ONE pre-r10 check: every file line carries a parseable row
    // count and a self-contained manifest with files records its schema
    def preR10(what: String): Nothing = throw new PreR10ManifestException(
      s"manifest v$expectVersion under $root $what — a pre-r10 table, which " +
        "is no longer read; adopt its data directory as a new table with " +
        "CONVERT TO MANIFEST (ManifestStore.convertParquet)")
    for (l <- lines.drop(2)) {
      if (l.startsWith("schema=")) {
        schema = Some(DataType.fromJson(l.stripPrefix("schema=")).asInstanceOf[StructType])
      } else if (l.startsWith("partcols=")) {
        partCols = Some(l.stripPrefix("partcols=").split(",", -1).toSeq.filter(_.nonEmpty))
      } else if (l.startsWith("op=")) {
        op = l.stripPrefix("op=")
      } else if (l.startsWith("table=")) {
        tableId = l.stripPrefix("table=")
      } else if (l.startsWith("txn=")) {
        val i = l.lastIndexOf('\t')
        if (i <= 0) return None
        txns += l.substring("txn=".length, i) -> l.substring(i + 1).toLong
      } else if (isV2 && l.startsWith("colmap=")) {
        // honored at v2 as well as v3: genuine pre-r14 writers never emit
        // this marker, and a buggy v2-headed mapping-RESET delta (written
        // before the renderDelta header fix above) must still clear the
        // mapping on cold resolution rather than be skipped (ADVICE r14 #1)
        val toks = l.stripPrefix("colmap=").split("\t", -1).toSeq.filter(_.nonEmpty)
        if (toks.size % 2 != 0) return None
        colMap = Some(toks.grouped(2).map(p => p.head -> p(1)).toMap)
      } else if (isV2 && l.startsWith("dropped=")) {
        droppedPhys = Some(l.stripPrefix("dropped=").split("\t", -1).toSeq
          .filter(_.nonEmpty))
      } else if (isV2 && l.startsWith("constraints=")) {
        val toks = l.stripPrefix("constraints=").split("\t", -1).toSeq.filter(_.nonEmpty)
        if (toks.size % 3 != 0) return None
        val parsed = toks.grouped(3).map { t =>
          if (t(1) != "notnull" && t(1) != "check") return None
          Constraint(t.head, t(1), t(2))
        }.toSeq
        constraints = Some(parsed)
      } else if (isV2 && l.startsWith("properties=")) {
        val toks = l.stripPrefix("properties=").split("\t", -1).toSeq.filter(_.nonEmpty)
        if (toks.size % 2 != 0) return None
        properties = Some(toks.grouped(2).map(p => p.head -> p(1)).toMap)
      } else if (isV2 && l.startsWith("bloomidx=")) {
        // a hint line: malformed/extended shapes are IGNORED (the prune
        // tier just doesn't engage), never a tear — unlike constraints,
        // nothing row-correctness-bearing rides here
        parseBloomIdx(l.stripPrefix("bloomidx=")).foreach(b => bloomIdx = Some(b))
      } else if (isV2 && l.startsWith("base=")) {
        base = Some(l.stripPrefix("base=").toLong)
      } else if (isV2 && l.startsWith("addbytes=")) {
        addedBytes = Some(l.stripPrefix("addbytes=").toLong)
      } else if (isV2 && l.startsWith("rm=")) {
        removed += l.stripPrefix("rm=")
      } else if (isV2 && !l.contains('\t') && MarkerShape.matcher(l).find()) {
        // v2 forward-compat rule: an unrecognized marker line is SKIPPED,
        // never read as a malformed file entry (the r12 break, advice r12)
      } else {
        l.split("\t", -1) match {
          case Array(p, _) => preR10(s"lists $p without a row count")
          case Array(p, b, meta) =>
            val (rows, stats, part, dv) = ManifestStats.parseMeta(meta)
              .getOrElse(preR10(s"lists $p without a parseable row count"))
            files += ManifestEntry(p, b.toLong, rows, stats, part, dv)
          case _ => return None
        }
      }
    }
    base match {
      case Some(b) =>
        if (b >= expectVersion) return None // a delta's base must precede it
        Some(DeltaManifest(DeltaRec(expectVersion, b, op, tableId,
          txns.result(), schema, partCols, removed.result(), files.result(),
          addedBytes, colMap, droppedPhys, constraints, properties, bloomIdx)))
      case None =>
        val all = files.result()
        if (all.nonEmpty && schema.isEmpty) preR10("lists files without a schema line")
        Some(FullManifest(Snapshot(expectVersion, all, txns.result(),
          schema, partCols.getOrElse(Nil), op, tableId,
          checkpointVersion = expectVersion, deltaDepth = 0,
          addedBytes = addedBytes, colMap = colMap.getOrElse(Map.empty),
          droppedPhys = droppedPhys.getOrElse(Nil),
          constraints = constraints.getOrElse(Nil),
          properties = properties.getOrElse(Map.empty),
          bloomIdx = bloomIdx.flatten)))
    }
  }


  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = manifestsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestName(d) => Some(d.toLong)
      case _ => None
    }).sorted
  }

  // ---- `_latest` checkpoint pointer (r11, VERDICT r10 #2) --------------
  // Without it every snapshot resolution pays an O(all versions) directory
  // listing — at a streaming sink's cadence that is ~100k manifest names
  // listed and parsed PER MICRO-BATCH within a week. The hint is Delta's
  // `_last_checkpoint` shape: best-effort, re-written after every commit,
  // and NEVER load-bearing — a missing/corrupt/stale hint falls back to
  // the full listing, so correctness is exactly the pre-hint behavior.

  private def latestHintPath(root: Path) = new Path(manifestsDir(root), "_latest")

  /** Best-effort: failures are swallowed (the next resolution just pays
    * the listing). Written as tmp + delete + rename, NOT truncate-in-
    * place: a reader racing an in-place rewrite could observe a truncated
    * digit PREFIX ("14" of "14203"), which validates against an old
    * intact manifest and turns the forward probe into O(versions)
    * sequential exists() calls. With this sequence the race window shows
    * hint-ABSENT instead — one fallback listing, never a pathological
    * probe walk (review r11).
    */
  private def writeLatestHint(fs: FileSystem, root: Path, v: Long): Unit =
    try {
      val tmp = new Path(manifestsDir(root), s".latest-tmp-${UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val dst = latestHintPath(root)
      try fs.delete(dst, false) catch { case _: java.io.IOException => () }
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false): Unit // lost a hint race: fine
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The hint's version NUMBER — no manifest round-trip here (r12): the
    * hint is world-writable state, so trust is earned downstream by
    * [[resolveCached]]'s intact parse (or its cache hit, which proves a
    * prior intact parse of the exact same file state), the forward probe
    * is capped, and every broken shape (absent, corrupt, dangling,
    * truncated) degrades to one full listing. Dropping the eager
    * head-manifest GET is what makes steady-state resolution O(1) in
    * entry count.
    */
  private def readHintedVersion(fs: FileSystem, root: Path): Option[Long] =
    try {
      val p = latestHintPath(root)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val s = try {
        // loop to EOF: a single read() may legally return short, and a
        // truncated digit prefix ("142" of "14203") would read as a
        // plausible MUCH older version (review r11; the probe cap bounds
        // even that to 64 RPCs + one listing)
        val buf = new Array[Byte](64)
        var off = 0
        var n = in.read(buf, off, buf.length - off)
        while (n > 0 && off < buf.length) { off += n; n = in.read(buf, off, buf.length - off) }
        if (off == 0) return None
        new String(buf, 0, off, StandardCharsets.UTF_8).trim
      } finally in.close()
      Some(s.toLong).filter(_ >= 1L)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parsed-snapshot cache (r12, VERDICT r11 #3 — the Delta `DeltaLog`
    * posture): manifests are immutable per version, so a snapshot parsed
    * once per JVM never needs re-parsing. Keys carry the manifest FILE's
    * (length, mtime) alongside (root, version) — a table recreated in
    * place mints a different file state and misses. Honest residual
    * (review r12): a recreation producing an IDENTICAL-length manifest
    * within one mtime tick (coarse-granularity stores) can be served
    * until eviction; its reads then fail on the dead table's missing
    * files rather than mis-answer, and the r12 `tableId` guards refuse
    * checkpointed consumers either way. The measured point (SCALE.md):
    * parsing is ~3.4 µs per entry line (410 ms at 100k entries, linear),
    * which a tail-polling consumer would otherwise pay on EVERY
    * resolution; with the cache the steady state is a hint read + one
    * existence probe + one getFileStatus — O(1) in entry count. Bounded
    * LRU (8 snapshots) — an eviction only re-parses.
    */
  private val snapshotCache = java.util.Collections.synchronizedMap(
    // 40 resolved snapshots: a full delta chain (≤ checkpointInterval) plus
    // the heads of several live tables. Chained snapshots SHARE their
    // ManifestEntry objects structurally, so the marginal cost per chained
    // level is one Seq of pointers, not a copy of the entry data.
    new java.util.LinkedHashMap[(String, Long, Long, Long), Snapshot](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Snapshot]): Boolean = size > 40
    })

  /** Test/SLO seam: drop every cached snapshot and commit record so the
    * next resolution pays the true cold path (fresh-JVM behavior without
    * a fresh JVM).
    */
  private[graft] def clearCachesForTest(): Unit = {
    snapshotCache.clear()
    recordCache.clear()
  }

  /** The intact snapshot at version `v`, through [[snapshotCache]]. A v2
    * DELTA manifest resolves by walking down to its anchor and applying
    * the collected deltas in one pass; only the ANCHOR and the TARGET are
    * cached (each under its own immutable file identity) — intermediate
    * delta levels are not, so resolving a chain-interior neighbor re-walks
    * the shorter suffix down to the same cached anchor (O(Σ suffix delta
    * bytes), cheap; caching every level would bloat the LRU for versions
    * nobody asks for). Cold resolution is one O(files) checkpoint parse
    * plus ≤ [[checkpointInterval]] O(delta) parses, and the steady state
    * is one cache hit. A delta whose base is gone (vacuumed past its
    * chain, or never intact) is unresolvable — None, exactly like a
    * vacuumed self-contained version.
    */
  private def resolveCached(fs: FileSystem, root: Path, v: Long): Option[Snapshot] = {
    // walk the delta chain DOWN to a cached or self-contained anchor,
    // then apply the collected deltas in ONE pass ([[applyChain]]): cold
    // resolution is O(files + Σ delta sizes), not O(chain × files) — a
    // per-level recursive apply would re-copy the full entry list once
    // per delta
    var recs: List[DeltaRec] = Nil
    var cur = v
    while (true) {
      val st = try fs.getFileStatus(manifestPath(root, cur))
      catch { case _: java.io.FileNotFoundException => return None }
      val key = (root.toString, cur, st.getLen, st.getModificationTime)
      Option(snapshotCache.get(key)) match {
        case Some(anchor) =>
          return finishChain(fs, root, v, anchor, recs)
        case None =>
          parse(fs, root, cur) match {
            case None => return None // torn link: the whole chain is unresolvable
            case Some(FullManifest(s)) =>
              snapshotCache.put(key, s)
              return finishChain(fs, root, v, s, recs)
            case Some(DeltaManifest(d)) =>
              recs = d :: recs // oldest-first accumulation
              cur = d.base
          }
      }
    }
    None // unreachable
  }

  /** Apply a collected chain onto its anchor and cache the result under
    * the TARGET version's file identity.
    */
  private def finishChain(fs: FileSystem, root: Path, v: Long, anchor: Snapshot,
                          recs: List[DeltaRec]): Option[Snapshot] = {
    val resolved = applyChain(anchor, recs)
    resolved.foreach { s =>
      // target key re-derived from the (immutable) manifest file — the
      // walk above proved it exists
      try {
        val st = fs.getFileStatus(manifestPath(root, v))
        snapshotCache.put((root.toString, v, st.getLen, st.getModificationTime), s): Unit
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    resolved
  }

  /** One-pass application of `recs` (oldest-first) onto `anchor`:
    * removals drop, same-path entries replace IN PLACE (order preserved),
    * new entries append in commit order — exactly the per-delta
    * [[applyDelta]] semantics, without the per-level entry-list copy.
    */
  private def applyChain(anchor: Snapshot, recs: List[DeltaRec]): Option[Snapshot] = {
    if (recs.isEmpty) return Some(anchor)
    var tableId = anchor.tableId
    for (d <- recs) {
      if (tableId.nonEmpty && d.tableId.nonEmpty && d.tableId != tableId)
        return None // a delta can only extend its own table's chain
      if (d.tableId.nonEmpty) tableId = d.tableId
    }
    val files = new java.util.LinkedHashMap[String, ManifestEntry](
      math.max(16, anchor.files.size * 2))
    anchor.files.foreach(f => files.put(f.path, f))
    var txns = anchor.txns
    var schema = anchor.schema
    var partCols = anchor.partCols
    var colMap = anchor.colMap
    var droppedPhys = anchor.droppedPhys
    var constraints = anchor.constraints
    var properties = anchor.properties
    var bloomIdx = anchor.bloomIdx
    for (d <- recs) {
      d.removed.foreach(files.remove)
      // LinkedHashMap.put on an existing key keeps its position (in-place
      // replacement); a new key appends — the applyDelta order contract
      d.entries.foreach(e => files.put(e.path, e))
      txns = txns ++ d.txns
      d.schema.foreach(s => schema = Some(s))
      d.partCols.foreach(p => partCols = p)
      d.colMap.foreach(m => colMap = m)
      d.droppedPhys.foreach(p => droppedPhys = p)
      d.constraints.foreach(c => constraints = c)
      d.properties.foreach(p => properties = p)
      d.bloomIdx.foreach(b => bloomIdx = b)
    }
    val last = recs.last
    import scala.jdk.CollectionConverters._
    Some(Snapshot(last.version, files.values.asScala.toSeq, txns, schema,
      partCols, last.op, tableId,
      checkpointVersion = anchor.checkpointVersion,
      deltaDepth = anchor.deltaDepth + recs.size,
      addedBytes = last.addedBytes,
      colMap = colMap, droppedPhys = droppedPhys,
      constraints = constraints, properties = properties,
      bloomIdx = bloomIdx))
  }

  /** Single-step [[applyChain]] — kept as the uncached resolver's unit. */
  private def applyDelta(base: Snapshot, d: DeltaRec): Option[Snapshot] =
    applyChain(base, List(d))

  /** The TAIL of the version sequence — `[hint .. highest existing]` via
    * forward existence probes (versions are consecutive by construction:
    * each commit claims max+1 and vacuum only trims the low end), normally
    * one hint read + one miss probe instead of listing the whole
    * `_manifests/` directory. The flag reports whether the hint was used:
    * callers must fall back to [[listVersions]] if a hinted tail somehow
    * yields no intact version (checksum-valid but unparseable head — a
    * tampered file; the lite check cannot rule it out), rather than read
    * an initialized table as empty. [[vacuum]] keeps the full listing —
    * it is the one caller that genuinely needs the low end.
    */
  private def tailVersions(fs: FileSystem, root: Path): (Seq[Long], Boolean) =
    readHintedVersion(fs, root) match {
      case None => (listVersions(fs, root), false)
      case Some(hint) => probeHead(fs, root, hint) match {
        case Some(v) => (hint to v, true)
        case None => (listVersions(fs, root), false)
      }
    }

  /** Forward existence probes from a validated hint to the head version —
    * CAPPED: a persistently failing hint write (permissions on the hint
    * path while commits succeed) would otherwise cost O(gap) sequential
    * exists() RPCs per resolution, unbounded and unsurfaced. Past the cap
    * one full listing is strictly cheaper — None tells the caller to take
    * it (advice r11).
    */
  private val MaxHintProbes = 64
  private def probeHead(fs: FileSystem, root: Path, hint: Long): Option[Long] = {
    var v = hint
    var probes = 0
    while (probes < MaxHintProbes && fs.exists(manifestPath(root, v + 1))) {
      v += 1; probes += 1
    }
    if (probes == MaxHintProbes) None else Some(v)
  }

  /** Highest intact snapshot, or None for an empty/uninitialized table.
    * Torn versions (crashed or in-flight committers) are skipped, never
    * trusted. Resolution is hint-accelerated AND cached (r12): the steady
    * state is a hint read, one existence probe, one getFileStatus and a
    * [[snapshotCache]] hit — zero manifest GETs, zero parsing, O(1) in
    * both accrued versions and live-file count. Every broken-hint shape
    * (absent, corrupt, dangling, torn slot, stale past the probe cap)
    * degrades to one full listing — correctness is exactly the unhinted
    * behavior.
    */
  def latestSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val (fs, rootP) = fsFor(spark, root)
    readHintedVersion(fs, rootP) match {
      case None => latestIntact(fs, rootP, listVersions(fs, rootP))
      case Some(hint) =>
        val head = probeHead(fs, rootP, hint) match {
          case None => None // pathologically stale hint: full listing below
          case Some(v) => // highest intact in [hint, v] — cached per slot
            (hint to v).reverse.iterator
              .flatMap(resolveCached(fs, rootP, _)).nextOption()
        }
        // dangling/torn hinted tail, or a stale hint past the probe cap:
        // fall back to the full listing rather than read an initialized
        // table as empty (or pay O(gap) probes)
        head.orElse(latestIntact(fs, rootP, listVersions(fs, rootP)))
    }
  }

  /** [[latestSnapshot]] forced down the full-listing path AND past the
    * snapshot cache — the pre-hint/pre-cache resolution, kept as the
    * comparison arm for the SLO harness and as the recovery tool when a
    * root's hint or cache state is suspect.
    */
  private[graft] def latestSnapshotUnhinted(spark: SparkSession,
                                            root: String): Option[Snapshot] = {
    val (fs, rootP) = fsFor(spark, root)
    def resolveUncached(v: Long): Option[Snapshot] =
      parse(fs, rootP, v).flatMap {
        case FullManifest(s) => Some(s)
        case DeltaManifest(d) => resolveUncached(d.base).flatMap(applyDelta(_, d))
      }
    listVersions(fs, rootP).reverse.iterator
      .flatMap(resolveUncached)
      .nextOption()
  }

  private def latestIntact(fs: FileSystem, root: Path,
                           versions: Seq[Long]): Option[Snapshot] =
    versions.reverse.iterator.flatMap(v => readManifest(fs, root, v)).nextOption()

  // cached: manifests are immutable per version and the key carries the
  // file's (len, mtime), so readVersion/snapshotAt/commit-rebase reads and
  // a tail consumer's per-tick snapshotAt(fromVersion) all skip re-parsing
  private def readManifest(fs: FileSystem, root: Path, v: Long): Option[Snapshot] =
    resolveCached(fs, root, v)

  private def readManifestBytes(fs: FileSystem, root: Path, v: Long): Option[Array[Byte]] = {
    val p = manifestPath(root, v)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
      Some(bytes)
    }
  }

  /** Probe the commit-point contract on a scratch key: create-exclusive
    * the same path twice; the second claim MUST refuse. A connector whose
    * `create(path, overwrite=false)` silently overwrites (a HEAD-then-PUT
    * object-store shim with no conditional PUT) would lose committed
    * versions without a trace — this turns that into a loud refusal
    * before any real commit is risked. Runs once per filesystem URI per
    * JVM, automatically, on the first non-local commit; `file:` is exempt
    * (claims there go through `File.createNewFile`, POSIX O_EXCL).
    */
  def verifyCommitPoint(spark: SparkSession, root: String): Unit = {
    val (fs, rootP) = fsFor(spark, root)
    verifyCommitPoint(fs, rootP)
  }

  private[graft] def verifyCommitPoint(fs: FileSystem, root: Path): Unit = {
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) return
    val probe = new Path(manifestsDir(root), s".probe-${UUID.randomUUID()}")
    fs.mkdirs(manifestsDir(root))
    try {
      val first = fs.create(probe, false)
      try first.write('p'.toInt) finally first.close()
      val overwrote =
        try { val second = fs.create(probe, false); second.close(); true }
        catch { case _: java.io.IOException => false }
      if (overwrote) throw new IllegalStateException(
        s"filesystem ${fs.getUri} violates the manifest commit-point contract: " +
          "create(path, overwrite=false) overwrote an existing path instead of " +
          "failing. On such a connector concurrent committers silently lose " +
          "committed versions. Use a connector with an atomic conditional " +
          "create (HDFS natively; s3a with conditional-PUT support), or a " +
          "local/HDFS staging table.")
    } finally {
      try fs.delete(probe, false) catch { case _: java.io.IOException => () }
    }
  }

  private val verifiedCommitPoints =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Atomically claim version `v` with the given snapshot content. False
    * when the slot is already taken (another committer won the race).
    * The `file:` scheme claims via `File.createNewFile` (POSIX O_EXCL —
    * Hadoop's local `create(overwrite=false)` is check-then-act and would
    * race); everywhere else `FileSystem.create(p, false)` is the claim
    * (atomic on HDFS; a conditional PUT on capable object-store
    * connectors — probed by [[verifyCommitPoint]] on first use).
    */
  private def tryCommit(fs: FileSystem, root: Path, version: Long,
                        write: java.io.OutputStream => Unit): Boolean = {
    fs.mkdirs(manifestsDir(root))
    val p = manifestPath(root, version)
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
      val local = new java.io.File(p.toUri.getPath)
      if (!local.createNewFile()) return false // atomic O_EXCL claim
      val out = new java.io.FileOutputStream(local)
      try write(out) finally out.close()
      true
    } else {
      if (!verifiedCommitPoints.contains(fs.getUri.toString)) {
        verifyCommitPoint(fs, root)
        verifiedCommitPoints.add(fs.getUri.toString)
      }
      // a lost race surfaces differently per connector: HDFS throws
      // FileAlreadyExistsException, some connectors PathExistsException,
      // and a conditional-PUT 412 can arrive as a plain IOException — in
      // that last case probe the path: if it now exists, the slot was
      // taken (rebase-retry), otherwise it is a genuine I/O failure
      val out = try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: org.apache.hadoop.fs.PathExistsException => return false
        case e: java.io.IOException =>
          if (try fs.exists(p) catch { case _: java.io.IOException => false })
            return false
          else throw e
      }
      try { write(out); true } finally out.close()
    }
  }

  /** Stage `df` as a fresh immutable batch directory (hive-layout when
    * `partitionBy` is set); returns the manifest entries of its data
    * files, each carrying footer-harvested stats and its parsed partition
    * values. Shared by append and compact so "what counts as a committed
    * data file" has exactly one definition. Footer reads fan out over a
    * small driver-side pool — metadata-only round-trips, cost scales with
    * the batch's file count, never its bytes.
    */
  /** Marker embedded in every constraint-violation error message so the
    * write seam can recognize its own refusal inside Spark's task-failure
    * wrapping and re-throw it as ONE nameable cause.
    */
  private val ConstraintTag = "[graft constraint]"

  /** The CHECK expression as a Column over `df`, with references to
    * columns the batch OMITS substituted by NULL — an omitted column
    * null-fills on read, so the constraint must see exactly the value
    * later readers will (SQL semantics then let NULL pass unless the
    * expression forces otherwise). Top-level names only, case-insensitive
    * like Spark's resolution.
    */
  private def checkExprColumn(df: DataFrame, exprText: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    val parsed = df.sparkSession.sessionState.sqlParser.parseExpression(exprText)
    val subbed = parsed.transform {
      case a: UnresolvedAttribute if a.nameParts.size == 1 &&
          !df.columns.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        Literal(null)
    }
    org.apache.spark.sql.graftshim.ColumnShim.column(subbed)
  }

  /** Inject the table's constraints into the write pass: each one becomes
    * an `assert_true` filter that THROWS on the first violating row (with
    * the row rendered as JSON), so enforcement costs zero extra scans of
    * the batch and fails the commit before any manifest write. NOT NULL
    * on a column the batch omits refuses up front — the omitted column
    * null-fills, which IS the violation, but no row-level check would see
    * it.
    */
  private def withConstraintChecks(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    val rowJson = to_json(struct(df.columns.map(c => col(quoteIdent(c))).toIndexedSeq: _*))
    constraints.foldLeft(df) { (acc, c) =>
      val violated: Column = c.kind match {
        case "notnull" =>
          require(df.columns.exists(_.equalsIgnoreCase(c.target)),
            s"$ConstraintTag batch omits column ${c.target}, which carries a " +
              "NOT NULL constraint — omitted columns null-fill, violating it " +
              "for every row; include the column with real values")
          col(quoteIdent(c.target)).isNull
        case "check" =>
          // SQL standard: only FALSE violates; NULL (unknown) passes
          not(coalesce(checkExprColumn(df, c.target), lit(true)))
      }
      acc.where(assert_true(not(coalesce(violated, lit(false))),
        concat(lit(s"$ConstraintTag ${c.describe} (name=${c.name}) violated by row: "),
          rowJson)).isNull)
    }
  }

  /** `colMap` (r14 column mapping): the table's logical→physical name map
    * at write time. Files ALWAYS carry physical names — the frame arrives
    * logical (every library surface is logical) and is renamed here, at
    * the one seam every write flows through, so entry stats and partition
    * keys come out physical automatically. Physical names are immutable
    * (renames only move logical labels), so a rename racing this write
    * cannot invalidate the names the files were written under.
    *
    * `audit` runs on the written entries once the write has returned
    * normally: false deletes the batch directory and returns no entries
    * (nothing to commit); a throw deletes it and propagates, like a
    * constraint refusal.
    */
  private def writeBatch(fs: FileSystem, root: Path, dfLogical: DataFrame,
                         partitionByLogical: Seq[String],
                         internalRewrite: Boolean = false,
                         colMap: Map[String, String],
                         constraints: Seq[Constraint] = Nil,
                         audit: Seq[ManifestEntry] => Boolean = _ => true)
      : Seq[ManifestEntry] = {
    def phys(n: String): String = colMap.getOrElse(n, n)
    // constraints enforce on the LOGICAL frame (their targets/exprs speak
    // logical names), INSIDE the write pass — one distributed scan, no
    // extra batch read. Sites passing Nil (compaction, delete-survivor
    // and materialization rewrites) re-land rows already admitted.
    val dfChecked =
      if (constraints.isEmpty) dfLogical
      else withConstraintChecks(dfLogical, constraints)
    val df =
      if (colMap.isEmpty) dfChecked
      else dfChecked.select(dfChecked.columns.map(c =>
        col(quoteIdent(c)).as(phys(c))).toIndexedSeq: _*)
    val partitionBy = partitionByLogical.map(phys)
    // a field name containing a literal '.' — at ANY nesting depth — is
    // unrepresentable in the store's addressing: parquet's dot-string and
    // the Filter ADT's dotted convention cannot distinguish it from a
    // genuinely nested path, so its stats could merge with another leaf's
    // and its residual filters would resolve to the wrong column — refuse
    // at the write, where the cause is nameable (review r11). Rename the
    // field (e.g. a_b) instead. Scoped to EXTERNAL frames: a maintenance
    // rewrite (compact/delete/upsert-rewrite/materialize) of a table whose
    // committed schema already carries the dotted name must keep working —
    // CONVERT TO MANIFEST adopts such columns from plain parquet, and the
    // harvest already drops colliding keys from stats, so refusing here
    // would leave such tables permanently un-compactable and un-deletable
    // (advice r11).
    def dottedIn(prefix: String, dt: DataType): Seq[String] = dt match {
      case st: StructType => st.fields.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        (if (f.name.contains('.')) Seq(name) else Seq.empty) ++
          dottedIn(name, f.dataType)
      }
      case org.apache.spark.sql.types.ArrayType(et, _) => dottedIn(prefix, et)
      case org.apache.spark.sql.types.MapType(kt, vt, _) =>
        dottedIn(prefix, kt) ++ dottedIn(prefix, vt)
      case _ => Seq.empty
    }
    val dotted = if (internalRewrite) Seq.empty else dottedIn("", df.schema)
    require(dotted.isEmpty,
      s"field name(s) ${dotted.mkString(", ")} contain a literal '.' — " +
        "indistinguishable from a nested path in parquet addressing and in " +
        "pushed filters; rename them before writing to a manifest table")
    val batch = new Path(dataDir(root), s"batch-${UUID.randomUUID()}")
    // nothing was committed: vacuum owes nothing
    def discard(): Unit =
      try fs.delete(batch, true): Unit catch { case scala.util.control.NonFatal(_) => () }
    val writer = df.write.mode(SaveMode.ErrorIfExists)
    val sc = df.sparkSession.sparkContext
    sc.addJobTag(batch.getName)
    try (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(batch.toString)
    catch {
      case e: Throwable =>
        // a constraint refusal rides out of the task as a wrapped
        // RuntimeException — find our tag in the cause chain and rethrow
        // it as the ONE loud, nameable cause (the partial batch directory
        // is deleted once the failed job's other tasks have ended: they
        // are killed asynchronously and would re-create it)
        val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse(""))
          .find(_.contains(ConstraintTag))
        msg match {
          case Some(m) =>
            awaitTasksEnded(sc, batch.getName)
            discard()
            throw new IllegalStateException(
              m.substring(m.indexOf(ConstraintTag)) +
                " — the write was refused; no version was committed", e)
          case None => throw e
        }
    } finally sc.removeJobTag(batch.getName)
    val files = {
      val it = fs.listFiles(batch, true)
      val buf = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) buf += s
      }
      buf.result()
    }
    val dataSchema = StructType(df.schema.fields.filterNot(f => partitionBy.contains(f.name)))
    val harvested = harvestStats(new org.apache.hadoop.conf.Configuration(fs.getConf),
      files.map(_.getPath), dataSchema)
    val entries = files.map { st =>
      val (rows, stats) = harvested(st.getPath.toString)
      val part = if (partitionBy.isEmpty) None
        else Some(partitionOf(batch, st.getPath, partitionBy))
      // Path.toString, NOT toUri.toString: a hive-escaped partition dir
      // contains literal '%', which toUri would double-encode (%252F) —
      // the stored string must round-trip through new Path(s) exactly
      ManifestEntry(st.getPath.toString, st.getLen, rows, stats, part)
    }
    val keep = try audit(entries) catch { case e: Throwable => discard(); throw e }
    if (keep) entries else { discard(); Seq.empty }
  }

  /** Wait, at most 30 s, until no task of the jobs tagged `tag` is still
    * running, as far as the status store has heard.
    */
  private def awaitTasksEnded(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def running: Boolean = st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_))
      .flatMap(_.stageIds).flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Pooled footer-stats harvest (metadata-only round-trips, cost scales
    * with file COUNT) — one definition shared by [[writeBatch]] and
    * [[convertParquet]] so the pool sizing/shutdown/error discipline cannot
    * drift between them. Keys are `Path.toString` (the manifest's own path
    * convention).
    */
  private def harvestStats(conf: org.apache.hadoop.conf.Configuration,
                           paths: Seq[Path], dataSchema: StructType)
      : Map[String, (Long, Map[String, ColStats])] = {
    if (paths.isEmpty) return Map.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, paths.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[(String, (Long, Map[String, ColStats]))]] =
        paths.map(p => () => p.toString -> ManifestStats.collect(conf, p, dataSchema))
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Hive partition values of `file`, parsed from its directory segments
    * under `batch` (`col=value`, hive-escaped, null sentinel honored).
    */
  private def partitionOf(batch: Path, file: Path,
                          partCols: Seq[String]): Map[String, Option[String]] = {
    var segs = List.empty[String]
    var p = file.getParent
    val stop = Path.getPathWithoutSchemeAndAuthority(batch).toString
    while (p != null && Path.getPathWithoutSchemeAndAuthority(p).toString != stop) {
      segs = p.getName :: segs
      p = p.getParent
    }
    require(p != null, s"file $file not under batch dir $batch")
    val kvs = segs.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"non-hive directory segment '$s' under $batch")
      val v = s.substring(i + 1)
      unescapePathName(s.substring(0, i)) ->
        (if (v == HiveNullPartition) None else Some(unescapePathName(v)))
    }.toMap
    require(kvs.keySet == partCols.toSet,
      s"partition dirs ${kvs.keySet} disagree with declared columns $partCols under $batch")
    kvs
  }

  /** Inverse of hive partition-path escaping (`%xx` for the chars hive
    * refuses in a path segment) — kept local so the store has no
    * dependency on catalyst internals.
    */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition column types that round-trip exactly through a hive path
    * string (write → `col=value` → parse → compare/reconstruct). Floats'
    * formatting drift and timestamps' zone/precision make them unsafe —
    * refused at the append, where the cause is nameable.
    */
  private def requirePartitionable(df: DataFrame, partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    partitionBy.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        sys.error(s"partition column $c not in batch schema ${df.schema.simpleString}"))
      require(f.dataType match {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             BooleanType | DateType => true
        case _ => false
      }, s"partition column $c has type ${f.dataType.simpleString} — only " +
        "string/integral/boolean/date round-trip exactly through a hive path")
    }
    require(partitionBy.size < df.schema.size,
      "a table cannot be partitioned by ALL of its columns")
    require(partitionBy.distinct == partitionBy, s"duplicate partition columns: $partitionBy")
    // empty string is the one string value that does NOT round-trip: Spark
    // writes it as the hive null sentinel, so it would silently read back
    // as NULL — refuse it where the cause is nameable (review r10). One
    // batch-bounded scan per string partition column.
    import org.apache.spark.sql.types.StringType
    val stringCols = partitionBy.filter(c =>
      df.schema.fields.exists(f => f.name == c && f.dataType == StringType))
    if (stringCols.nonEmpty) {
      val offending = stringCols.filterNot(c => df.where(col(quoteIdent(c)) === "").isEmpty)
      require(offending.isEmpty,
        s"partition column(s) ${offending.mkString(", ")} contain empty-string values, " +
          "which hive-style layout writes as the NULL sentinel and cannot round-trip — " +
          "map them to a real sentinel (or null) before appending")
    }
  }

  /** Write `df` as a new batch and commit it appended to the latest
    * snapshot. Returns the committed version. An input that produces no
    * data files (a zero-partition empty frame) is a NO-OP returning the
    * current version (0 for an uninitialized table) — committing an
    * empty manifest would make the table unreadable. Safe under
    * concurrent appends/compactions: on a lost race the commit rebases
    * onto the winner (its own data files are untouched and still valid)
    * and retries. `partitionBy` (first append defines it; later appends
    * must repeat it) lays the batch out hive-style and records each
    * file's partition values for partition-pruned reads.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             maxRetries: Int = 10, tornGraceMs: Long = 60000L,
             partitionBy: Seq[String] = Nil,
             expectNoTable: Boolean = false): Long = {
    val (fs, rootP) = fsFor(spark, root)
    if (partitionBy.nonEmpty) requirePartitionable(df, partitionBy)
    val cur = latestSnapshot(spark, root)
    requireCompatibleSchema(df, root, partitionBy, cur)
    val mine = writeBatch(fs, rootP, df, partitionBy,
      colMap = cur.map(_.colMap).getOrElse(Map.empty),
      constraints = cur.map(_.constraints).getOrElse(Nil))
    if (mine.isEmpty)
      return cur.map(_.version).getOrElse(0L)
    val batchSchema = normalizeSchema(df.schema)
    val v = commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { base =>
      // birth semantics (ADVICE r14 #4): a CTAS/ErrorIfExists/Ignore save
      // checked "no table" BEFORE writing its batch; that check-then-act
      // is made atomic HERE, against the actual commit base — if another
      // writer birthed the table in between, ABANDON (the caller maps -1
      // to its mode's semantics: throw for ErrorIfExists/Overwrite-as-
      // create, no-op for Ignore) instead of stacking a second "create"
      if (expectNoTable && base.exists(_.files.nonEmpty)) None
      else Some(Snapshot(0L, base.map(_.files).getOrElse(Seq.empty) ++ mine,
        base.map(_.txns).getOrElse(Map.empty),
        Some(mergedSchema(base, batchSchema)),
        partColsOf(base, partitionBy), op = "append",
        colMap = base.map(_.colMap).getOrElse(Map.empty),
        droppedPhys = base.map(_.droppedPhys).getOrElse(Nil),
        constraints = base.map(_.constraints).getOrElse(Nil),
        properties = base.map(_.properties).getOrElse(Map.empty),
        bloomIdx = base.flatMap(_.bloomIdx)))
    }
    if (v == -1L) // lost the birth race: reclaim this attempt's orphan batch
      mine.foreach(e =>
        try fs.delete(new Path(e.path), false)
        catch { case scala.util.control.NonFatal(_) => () })
    v
  }

  /** [[append]] with the batch laid out along the Z-order curve of `dims`
    * first ([[graft.operators.Layout.zOrder]]), so the manifest's per-file
    * min/max stats come out tight in EVERY interleaved dimension and
    * multi-column predicates prune files through [[readWhere]] — the
    * manifest-table composition of `Sink.writeZOrdered`. `files` bounds
    * the batch's file count (one per range partition). See Layout.zValue
    * for the bits-vs-domain contract.
    */
  def appendZOrdered(spark: SparkSession, df: DataFrame, root: String,
                     dims: Seq[Column], files: Int, bits: Int = 16,
                     maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long =
    append(spark, graft.operators.Layout.zOrder(df, dims, files, bits), root,
      maxRetries, tornGraceMs)

  /** Idempotent streaming append — the foreachBatch sink primitive.
    * Structured Streaming delivers micro-batches AT-LEAST-ONCE after a
    * failure, so the sink must make the redelivered (appId, batchId)
    * commit a no-op: the snapshot's txn watermark for `appId` is checked
    * INSIDE the same atomic commit that adds the files, so a retry can
    * never double the batch even racing other writers. Returns the
    * committed version, or the current version when the batch was already
    * committed (the retry case). Batch ids must be monotonically
    * increasing per appId — exactly what foreachBatch provides.
    *
    * Usage: `stream.writeStream.foreachBatch { (df, id) =>
    *   ManifestStore.appendBatch(spark, df, root, "my-sink", id) }`.
    */
  def appendBatch(spark: SparkSession, df: DataFrame, root: String,
                  appId: String, batchId: Long,
                  maxRetries: Int = 10, tornGraceMs: Long = 60000L,
                  partitionBy: Seq[String] = Nil,
                  extraTxns: Map[String, Long] = Map.empty): Long = {
    val (fs, rootP) = fsFor(spark, root)
    // cheap pre-check: skip the batch WRITE too on an obvious redelivery
    // (the authoritative check remains inside the commit)
    val pre = latestSnapshot(spark, root)
    if (pre.exists(_.txns.getOrElse(appId, -1L) >= batchId))
      return pre.get.version
    if (partitionBy.nonEmpty) requirePartitionable(df, partitionBy)
    requireCompatibleSchema(df, root, partitionBy, pre)
    // an UNpartitioned empty micro-batch still writes one 0-row part file
    // (partitioned empties write none) — drop such files rather than
    // commit them, or every all-filtered batch of a long-running format
    // sink grows the manifest by one empty entry forever (r12)
    val written = writeBatch(fs, rootP, df, partitionBy,
      colMap = pre.map(_.colMap).getOrElse(Map.empty),
      constraints = pre.map(_.constraints).getOrElse(Nil))
    val (zeroRow, mine) = written.partition(_.rows == 0L)
    zeroRow.foreach(e =>
      fs.delete(new org.apache.hadoop.fs.Path(e.path), false): Unit)
    // a zero-file micro-batch (every partitioned empty frame — an
    // all-dropped dedup batch hits this) is a NO-OP like append's: on a
    // fresh table committing it would create a zero-file manifest, which
    // read() refuses by contract (advice r10). The watermark does not
    // advance — a redelivery recomputes the same empty batch
    // deterministically and no-ops again.
    if (mine.isEmpty)
      return pre.map(_.version).getOrElse(0L)
    val batchSchema = normalizeSchema(df.schema)
    val v = commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { base =>
      val txns = base.map(_.txns).getOrElse(Map.empty)
      if (txns.getOrElse(appId, -1L) >= batchId) None // lost race to our own retry
      else Some(Snapshot(0L,
        base.map(_.files).getOrElse(Seq.empty) ++ mine,
        txns ++ extraTxns + (appId -> batchId),
        Some(mergedSchema(base, batchSchema)),
        partColsOf(base, partitionBy), op = "append",
        colMap = base.map(_.colMap).getOrElse(Map.empty),
        droppedPhys = base.map(_.droppedPhys).getOrElse(Nil),
        constraints = base.map(_.constraints).getOrElse(Nil),
        properties = base.map(_.properties).getOrElse(Map.empty),
        bloomIdx = base.flatMap(_.bloomIdx)))
    }
    if (v == -1L) // already committed concurrently: report the live version
      latestSnapshot(spark, root).map(_.version).getOrElse(0L)
    else v
  }

  /** Watermark-ONLY commit (r14): advance txn entries with zero file
    * changes — the multi-source maintainer's "this tick's deltas netted to
    * nothing, but the consumed source versions must still advance" stamp.
    * Values merge by MAX (a watermark never regresses under concurrency);
    * the delta encoding makes this an O(txn-lines) manifest write.
    */
  private[sources] def stampTxns(spark: SparkSession, root: String,
                                 txns: Map[String, Long],
                                 maxRetries: Int = 10,
                                 tornGraceMs: Long = 60000L): Long = {
    require(txns.nonEmpty, "stampTxns with no watermarks is a no-op commit")
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root — nothing to stamp"))
      Some(base.copy(version = 0L,
        txns = base.txns ++ txns.map { case (k, v) =>
          k -> math.max(v, base.txns.getOrElse(k, Long.MinValue)) },
        op = "txn", addedBytes = None))
    }
  }

  /** Pre-commit compatibility check, where the cause is nameable at the
    * APPEND call site: every column the batch SHARES with the table must
    * keep its type (nullability-insensitive, recursively — advice r9);
    * new columns are sanctioned widening (old files read as null), and a
    * batch may omit table columns (its files read as null there). The
    * partition-column set is immutable per table.
    */
  private def requireCompatibleSchema(df: DataFrame, root: String,
                                      partitionBy: Seq[String],
                                      cur: Option[Snapshot]): Unit =
    cur.filter(_.files.nonEmpty).foreach { snap =>
      require(snap.partCols == partitionBy,
        s"append partitionBy=$partitionBy but the table under $root is " +
          s"partitioned by ${snap.partCols} — the partition layout is fixed at creation")
      val table = tableSchemaOf(snap)
      checkColumnTypes(normalizeSchema(df.schema), table, root)
      // r14 column mapping: a widening append's NEW column takes its own
      // name as its PHYSICAL name — colliding with a physical name in
      // use (some column's pre-rename identity) or retired (dropped)
      // would read the old files' orphaned bytes as the new column's
      if (snap.colMap.nonEmpty || snap.droppedPhys.nonEmpty) {
        val newCols = normalizeSchema(df.schema).fieldNames
          .filterNot(table.fieldNames.contains)
        val taken = snap.physicalNames
        val bad = newCols.filter(taken)
        require(bad.isEmpty,
          s"new column(s) ${bad.mkString(", ")} collide with a PHYSICAL " +
            s"column name in use or dropped under $root — old files " +
            "already carry data under that name; choose a different name " +
            "or rewrite the table")
      }
    }

  private def checkColumnTypes(batch: StructType, table: StructType, root: String,
                               advice: String =
                                 "add NEW columns instead; they null-fill old files"): Unit = {
    val byName = table.fields.map(f => f.name -> f.dataType).toMap
    for (bf <- batch.fields; tt <- byName.get(bf.name))
      require(bf.dataType == tt,
        s"column ${bf.name} is ${bf.dataType.simpleString} in the incoming frame but " +
          s"${tt.simpleString} in the table under $root — type changes would poison " +
          s"every later read ($advice)")
  }

  /** All nested nullability bits forced true, so two schemas that differ
    * ONLY in containsNull/valueContainsNull/field-nullable compare equal
    * and the stored schema does not churn between literal-built and
    * source-read batches (`DataType.asNullable` is private[spark] — this
    * is its public twin).
    */
  private def normalizeSchema(st: StructType): StructType =
    normalizeNullability(st).asInstanceOf[StructType]

  private def normalizeNullability(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(normalizeNullability(et), containsNull = true)
      case MapType(kt, vt, _) =>
        MapType(normalizeNullability(kt), normalizeNullability(vt), valueContainsNull = true)
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = normalizeNullability(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Table schema for a commit built on `base`: base's schema widened by
    * the batch's new columns. Type conflicts on shared columns REFUSE
    * here too — the pre-commit check ran against an older base, and two
    * concurrent widenings introducing the same column with different
    * types must not both land.
    */
  private def mergedSchema(base: Option[Snapshot], batch: StructType): StructType = {
    base.flatMap(_.schema) match {
      case None => batch
      case Some(t) =>
        val byName = t.fields.map(f => f.name -> f.dataType).toMap
        for (bf <- batch.fields; tt <- byName.get(bf.name))
          require(bf.dataType == tt,
            s"concurrent schema conflict on column ${bf.name}: " +
              s"${bf.dataType.simpleString} vs ${tt.simpleString}")
        // The physical-name collision guard must run HERE too, against the
        // ACTUAL commit base — the pre-commit requireCompatibleSchema check
        // ran against an older snapshot, so an append racing a concurrent
        // DROP/RENAME COLUMN could otherwise commit a retired physical name
        // back into the schema and serve the old files' orphaned bytes as
        // the re-added column's values (ADVICE r14 #2).
        base.filter(b => b.colMap.nonEmpty || b.droppedPhys.nonEmpty).foreach { b =>
          val newCols = batch.fieldNames.filterNot(byName.contains)
          val bad = newCols.filter(b.physicalNames)
          require(bad.isEmpty,
            s"new column(s) ${bad.mkString(", ")} collide with a PHYSICAL " +
              "column name in use or dropped (a concurrent RENAME/DROP landed " +
              "since this append's pre-check) — old files already carry data " +
              "under that name; choose a different name or rewrite the table")
        }
        StructType(t.fields ++ batch.fields.filterNot(f => byName.contains(f.name)))
    }
  }

  private def partColsOf(base: Option[Snapshot], partitionBy: Seq[String]): Seq[String] = {
    val pcols = base.filter(_.files.nonEmpty).map(_.partCols).getOrElse(partitionBy)
    require(pcols == partitionBy,
      s"partition layout changed concurrently: table has $pcols, append has $partitionBy")
    pcols
  }

  /** Rebase-and-retry commit loop shared by append/compact. `build`
    * returns None to ABANDON the commit against the given base (e.g. a
    * compaction whose inputs another compactor already replaced) —
    * reported as -1.
    *
    * The base snapshot and the claimed slot derive from ONE listing: the
    * slot is strictly above every version that listing saw, so a commit
    * landing between listing and claim occupies our slot and the
    * create-exclusive collides — we rebase and retry, never silently
    * drop the interleaved commit. Torn slots above the intact head are
    * handled by [[awaitTornSlots]] before each attempt.
    */
  /** Monotone JVM-wide count of lost commit races (rebase retries) — the
    * hot-table contention signal the streaming SLO harness reports
    * alongside its latency percentiles (graft.ManifestSlo).
    */
  val commitRetries = new java.util.concurrent.atomic.LongAdder

  private def commitWithRebase(fs: FileSystem, root: Path, maxRetries: Int,
                               tornGraceMs: Long)
                              (build: Option[Snapshot] => Option[Snapshot]): Long = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val versions = awaitTornSlots(fs, root, tornGraceMs)
      val base = latestIntact(fs, root, versions)
      val next = (versions :+ 0L).max + 1
      build(base) match {
        case None => return -1L
        case Some(snap) =>
          // the table IDENTITY: minted at the table's first commit,
          // carried verbatim by every later one (the Delta tableId
          // posture) — a recreated-in-place table mints a DIFFERENT id,
          // which version-range consumers and checkpointed streams use
          // to refuse resuming against the wrong table (review r12)
          val withId = snap.copy(version = next,
            tableId = base.map(_.tableId).filter(_.nonEmpty)
              .getOrElse(UUID.randomUUID().toString))
          // delta-encode against the SAME base the slot claim derives from
          // (r13): the write is O(changed entries), not O(live files) —
          // a lost race rebases onto the winner and re-encodes
          val (writeBody, resolved) = encodeCommit(base, withId)
          if (tryCommit(fs, root, next, writeBody)) {
            seedCache(fs, root, resolved)
            writeLatestHint(fs, root, next) // best-effort resolution hint
            return next
          } else commitRetries.increment()
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"manifest commit lost ${maxRetries + 1} consecutive races under $root — " +
        "a pathologically hot table; back off and retry")
  }

  /** Wait for torn slots above the intact head to become intact or age
    * past `tornGraceMs` (by slot mtime). A torn slot may be a committer
    * mid-write: building past it and winning the NEXT slot would orphan
    * its commit the moment it completes — told "committed", referenced by
    * no later snapshot. A slot still torn after the grace is a crashed
    * committer (its caller never got a success), dead forever. Returns
    * the final listing. A committer that takes longer than the grace to
    * flush its manifest bytes can still be orphaned — size the grace to
    * dwarf a small-file write (default 60 s), not to zero.
    */
  private def awaitTornSlots(fs: FileSystem, root: Path,
                             tornGraceMs: Long): Seq[Long] = {
    while (true) {
      val (tail, hinted) = tailVersions(fs, root)
      var versions = tail
      var head = latestIntact(fs, root, versions)
      if (head.isEmpty && hinted) { // hinted tail all-unparseable: full listing
        versions = listVersions(fs, root)
        head = latestIntact(fs, root, versions)
      }
      val headV = head.map(_.version).getOrElse(0L)
      val youngTorn = versions.filter(_ > headV).flatMap { v =>
        try {
          val st = fs.getFileStatus(manifestPath(root, v))
          val age = System.currentTimeMillis() - st.getModificationTime
          if (age < tornGraceMs) Some(tornGraceMs - age) else None
        } catch { case _: java.io.FileNotFoundException => None }
      }
      if (youngTorn.isEmpty) return versions
      Thread.sleep(math.min(youngTorn.max, 200L))
    }
    sys.error("unreachable")
  }

  /** DataFrame over the latest snapshot (fails loudly when the table has
    * no committed version — callers create tables via [[append]]).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readWhere(spark, root, Seq.empty)

  /** [[read]] with data skipping: `filters` (the public
    * `org.apache.spark.sql.sources.Filter` ADT — EqualTo/GreaterThan/In/
    * IsNull/And/Or/...) prune the snapshot's FILE LIST before the scan
    * plans, using each entry's partition values (exact) and min/max stats
    * (conservative). The filters are then ALSO applied to the frame, so
    * the result is exactly `read(...).where(f₁ && f₂ && ...)` — skipping
    * changes which files open, never the answer. Use
    * [[prunedEntries]] to observe the skip itself.
    */
  def readWhere(spark: SparkSession, root: String, filters: Seq[Filter]): DataFrame =
    readSnapshot(spark, root,
      latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(
          s"no committed manifest under $root")), filters)

  /** Time travel: the exact file set — and exact SCHEMA — of version `v`
    * (intact manifests are immutable, so this read is stable while the
    * files survive [[vacuum]]). A version committed before a column was
    * added replays WITHOUT that column.
    */
  def readVersion(spark: SparkSession, root: String, v: Long,
                  filters: Seq[Filter] = Seq.empty): DataFrame = {
    val (fs, rootP) = fsFor(spark, root)
    readSnapshot(spark, root, readManifest(fs, rootP, v).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no intact manifest v$v under $root")), filters)
  }

  /** The intact snapshot of version `v`, or None (torn, never committed,
    * or its manifest pruned by [[vacuum]]). The metadata twin of
    * [[readVersion]] — lets tooling inspect a version's files/schema/
    * txns without planning a read.
    */
  def snapshotAt(spark: SparkSession, root: String, v: Long): Option[Snapshot] = {
    val (fs, rootP) = fsFor(spark, root)
    readManifest(fs, rootP, v)
  }

  /** The newest RESOLVABLE version whose manifest mtime is at or before
    * `tsMillis` — the `TIMESTAMP AS OF` resolution (r14, VERDICT r13 #3).
    * None when the timestamp predates the table's whole retained history.
    *
    * CAVEAT (documented, the reason versions are the primary travel key):
    * manifest mtimes are the STORE's write clock, not a transactional
    * commit clock — they can disagree with the committer's wall clock by
    * skew, and a backfilled/replicated `_manifests` directory carries the
    * copy's times, not the original commit's. Within one store they are
    * non-decreasing in version order (each commit creates the next file),
    * which is what the bisection assumes; `history()` exposes the exact
    * per-version mtimes so a caller can audit what a timestamp resolves
    * to. Version-precise replays should name the version.
    */
  def versionAtOrBefore(spark: SparkSession, root: String,
                        tsMillis: Long): Option[Long] = {
    val (fs, rootP) = fsFor(spark, root)
    val versions = listVersions(fs, rootP).toIndexedSeq
    if (versions.isEmpty) return None
    def mtime(v: Long): Long =
      // a slot vanished between listing and stat (vacuum race): treat as
      // arbitrarily old — the post-bisect resolvability walk skips it
      try fs.getFileStatus(manifestPath(rootP, v)).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MinValue }
    var lo = 0
    var hi = versions.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (mtime(versions(mid)) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    // walk DOWN from the bisected candidate to the first version that
    // actually RESOLVES (torn slots have mtimes but are not commits)
    (ans to 0 by -1).iterator.map(versions)
      .find(v => readManifest(fs, rootP, v).isDefined)
  }

  /** ONE version's commit record — op and `addbytes=` — parsed from its
    * own manifest file WITHOUT resolving the delta chain (r13, VERDICT
    * r12 #2): cost is O(that manifest's bytes), which for a delta is the
    * increment, independent of table width. None = torn/absent (the slot
    * is not a commit). `addedBytes` None = a pre-r13 manifest without the
    * marker (callers fall back to the snapshot diff). The streaming
    * source's admission control walks a deep backlog through this instead
    * of materializing every version's file list.
    */
  final case class CommitRecord(op: String, addedBytes: Option[Long],
                                isDelta: Boolean)

  private val recordCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long, Long), CommitRecord](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), CommitRecord])
        : Boolean = size > 256
    })

  private[graft] def commitRecordAt(spark: SparkSession, root: String,
                                    v: Long): Option[CommitRecord] = {
    val (fs, rootP) = fsFor(spark, root)
    val st = try fs.getFileStatus(manifestPath(rootP, v))
    catch { case _: java.io.FileNotFoundException => return None }
    val key = (rootP.toString, v, st.getLen, st.getModificationTime)
    Option(recordCache.get(key)).orElse {
      val rec = parse(fs, rootP, v).map {
        case FullManifest(s) => CommitRecord(s.op, s.addedBytes, isDelta = false)
        case DeltaManifest(d) => CommitRecord(d.op, d.addedBytes, isDelta = true)
      }
      rec.foreach(recordCache.put(key, _))
      rec
    }
  }

  /** CDC-lite incremental consumption: the rows APPENDED strictly after
    * `fromVersion`, as (currentVersion, frame) — poll `latestSnapshot`,
    * call this with the last version you processed, checkpoint the
    * returned version. This is the change feed's REFUSAL mode
    * ([[changesBetween]] with `changeFeed = false`): the same walk, the
    * same inserts without `_change_type`, and a loud refusal wherever the
    * feed would emit a delete — a delete is not an append. Physical
    * rewrites are skipped and data-changing ones refuse, as in
    * [[readChangesSince]]. At 100 TB this is the cheap tail-read: a
    * driver-side manifest diff, and a scan of exactly the new files.
    */
  def readAddedSince(spark: SparkSession, root: String,
                     fromVersion: Long): (Long, DataFrame) =
    sinceLatest(spark, root)(changesBetween(spark, root, fromVersion, _, changeFeed = false))

  /** The latest snapshot's version, and `between` applied to it — the
    * one resolution behind every `read*Since`.
    */
  private def sinceLatest(spark: SparkSession, root: String)(
      between: Snapshot => DataFrame): (Long, DataFrame) = {
    val cur = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    (cur.version, between(cur))
  }

  /** The reserved change-kind column of [[readChangesSince]]. */
  val ChangeTypeCol = "_change_type"

  /** dv-aware CHANGE FEED (r12, VERDICT r11 #6): the exact row-level
    * changes between `fromVersion` and the current snapshot, as
    * (currentVersion, frame) where the frame carries the table columns
    * plus `_change_type ∈ insert | delete`:
    *
    *  - files APPENDED in range emit their live rows as `insert` (a file
    *    appended and partially MoR-deleted within the range nets out — the
    *    consumer never saw the intermediate state);
    *  - files whose DELETION VECTOR grew emit the rows at exactly the
    *    newly-deleted positions as `delete` (new bitmap MINUS old bitmap,
    *    read back from the vectors — row content comes from the data file,
    *    which merge-on-read kept byte-identical);
    *  - a merge-on-read UPSERT is therefore both: its updates batch
    *    inserts, its matched keys' old rows delete.
    *
    * Data-changing copy-on-write rewrites still REFUSE loudly (emitting a
    * CoW delete/upsert as delete+insert of every rewritten row would be a
    * correct-but-useless feed); PHYSICAL rewrites — compaction,
    * materialization — are op-labeled, verified row-conserving from the
    * manifest's own counts and SKIPPED (r12, the Delta `dataChange=false`
    * posture), so maintenance never breaks the feed. An aged-out
    * `fromVersion` refuses too.
    * This is what [[readAddedSince]] refuses to fake: deletes become
    * expressible the moment they are EXACT. At 100 TB the cost profile is
    * the tail-read's: a driver-side manifest diff, the new batches'
    * files, and the dv-changed files' scan filtered to the diff bitmap —
    * never the accumulated table.
    */
  def readChangesSince(spark: SparkSession, root: String,
                       fromVersion: Long): (Long, DataFrame) =
    sinceLatest(spark, root)(changesBetween(spark, root, fromVersion, _, changeFeed = true))

  /** The reserved commit-attribution column of the versioned change feed. */
  val CommitVersionCol = "_commit_version"

  private val ChangeTypeField =
    StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false)
  private val CommitVersionField =
    StructField(CommitVersionCol, org.apache.spark.sql.types.LongType, nullable = false)

  /** [[readChangesSince]] with PER-COMMIT attribution (r13, VERDICT r12
    * #5): every change row additionally carries `_commit_version` — the
    * manifest version whose commit produced it (the standard Delta-CDF
    * column). Semantics differ from the unversioned feed in exactly one
    * way: changes do NOT net out across versions — a file appended at v5
    * and MoR-deleted at v7 emits its inserts tagged 5 and its deletes
    * tagged 7, because that is what attribution MEANS. Costs: the walk
    * resolves every version in range (delta-cheap, cached); consecutive
    * append-only versions still share ONE scan (per-file attribution via
    * a broadcast path→version map), and each dv-changing version pays its
    * own diff scan. Physical rewrites are skipped, data-changing CoW
    * rewrites refuse, vacuumed interior versions coarsen onto the next
    * resolvable version — all exactly the unversioned feed's contracts.
    */
  def readChangesSinceVersioned(spark: SparkSession, root: String,
                                fromVersion: Long): (Long, DataFrame) =
    sinceLatest(spark, root)(changesBetweenVersioned(spark, root, fromVersion, _))

  /** The preamble every version-range read shares, around `frames`
    * (which gets the resolved base snapshot): the range must not run
    * backwards (a recreated table), `extra` must not collide with a table
    * column, an empty range is the typed empty frame (table columns plus
    * `extra`), an aged-out base refuses, and both ends must belong to the
    * same table. With `emptyBase`, version 0 is a synthetic empty base:
    * the earliest resolvable version owns the initial state. The frames
    * union onto the END snapshot's columns plus `extra`.
    */
  private def rangeFrame(spark: SparkSession, root: String, fromVersion: Long,
                         cur: Snapshot, extra: Seq[StructField],
                         emptyBase: Boolean = false)(
      frames: Snapshot => Seq[DataFrame]): DataFrame = {
    require(cur.version >= fromVersion,
      s"current version ${cur.version} is below fromVersion $fromVersion under $root — " +
        "the table was recreated; reprocess from a full snapshot")
    val schema = tableSchemaOf(cur)
    extra.foreach(f => require(!schema.fieldNames.contains(f.name),
      s"table schema collides with the reserved change column ${f.name}"))
    def empty: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[Row](), StructType(schema.fields ++ extra))
    if (cur.version == fromVersion) return empty
    val fromSnap =
      if (emptyBase && fromVersion == 0L) Snapshot(0L, Seq.empty, tableId = cur.tableId)
      else snapshotAt(spark, root, fromVersion).getOrElse(
        throw new java.util.NoSuchElementException(
          s"version $fromVersion under $root is gone (vacuumed or never intact) — " +
            "the incremental base is unknowable; reprocess from a full snapshot"))
    requireSameTable(root, fromSnap, cur)
    val built = frames(fromSnap)
    if (built.isEmpty) empty else alignedUnion(built, schema, extra.map(_.name))
  }

  private[graft] def changesBetweenVersioned(spark: SparkSession, root: String,
                                             fromVersion: Long,
                                             cur: Snapshot): DataFrame =
    rangeFrame(spark, root, fromVersion, cur, Seq(ChangeTypeField, CommitVersionField),
      emptyBase = true)(versionedFrames(spark, root, _, cur))

  /** The versioned feed's frames over (fromSnap, cur]: every resolvable
    * version in range, in order, is one attribution step. This walk, not
    * the bisected [[spanPairs]] of the net feeds, because per-commit
    * attribution cannot net out across versions.
    */
  private def versionedFrames(spark: SparkSession, root: String,
                              fromSnap: Snapshot, cur: Snapshot): Seq[DataFrame] = {
    // ONE raw-manifest walk over (from, cur] (advice r13): each intact
    // interior version contributes its own INCREMENT — a delta manifest's
    // bytes, or a checkpoint's diff against the running state — applied
    // onto an incrementally-maintained entry map. Total cost is O(width
    // seed + Σ increment bytes), never O(versions × width) chain
    // resolutions through the snapshot cache (a commitVersions=true stream
    // seeding from version 0 over a deep history used to thrash). Full
    // prev/next snapshots are synthesized from the map only at NON-PURE
    // steps (dv change / removal), so O(width) materializations are
    // bounded by the number of rewrite/dv commits in range, not by the
    // version count. Torn/vacuumed/unresolvable interiors coarsen onto
    // the next resolvable version, exactly as before.
    val (fs, rootP) = fsFor(spark, root)
    import scala.jdk.CollectionConverters._
    val state = new java.util.LinkedHashMap[String, ManifestEntry]()
    fromSnap.files.foreach(f => state.put(f.path, f))
    var stateVersion = fromSnap.version
    var stateSchema = fromSnap.schema
    var statePartCols = fromSnap.partCols
    var stateTableId = fromSnap.tableId
    var stateColMap = fromSnap.colMap
    var stateDropped = fromSnap.droppedPhys
    def stateFiles: Seq[ManifestEntry] = state.values.asScala.toSeq
    val frames = Seq.newBuilder[DataFrame]
    // pure-append run accumulation (consecutive append steps share ONE
    // scan; per-file attribution rides a broadcast path→version map,
    // CommitVersionOf): path → (version that ADDED it, LATEST entry) —
    // an in-place metadata re-put updates the scanned entry, never the
    // attribution
    val runAdded = new java.util.LinkedHashMap[String, (Long, ManifestEntry)]()
    def flushRun(): Unit = if (!runAdded.isEmpty) {
      val addedEntries = runAdded.values.asScala.map(_._2).toSeq
      val fileVersion: Map[String, Long] =
        runAdded.asScala.map { case (p, (v, _)) => p -> v }.toMap
      val bcast = spark.sparkContext.broadcast(fileVersion.map { case (p, v) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(p) -> v })
      import org.apache.spark.sql.graftshim.ColumnShim
      val versionCol = ColumnShim.column(graft.plans.CommitVersionOf(
        ColumnShim.expression(col("_metadata.file_path")), bcast))
      frames += spark.baseRelationToDataFrame(
        relationWith(spark, root,
          Snapshot(stateVersion, addedEntries, schema = stateSchema,
            partCols = statePartCols, tableId = stateTableId,
            colMap = stateColMap, droppedPhys = stateDropped)))
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, versionCol)
      runAdded.clear()
    }
    // one version's increment vs the running state: classify, then apply
    def step(v: Long, removed: Seq[String], puts: Seq[ManifestEntry],
             schemaOpt: Option[StructType], partColsOpt: Option[Seq[String]],
             tableIdNew: String, op: String,
             colMapOpt: Option[Map[String, String]],
             droppedOpt: Option[Seq[String]]): Unit = {
      def advance(): Unit = {
        schemaOpt.foreach(s => stateSchema = Some(s))
        partColsOpt.foreach(pc => statePartCols = pc)
        if (tableIdNew.nonEmpty) stateTableId = tableIdNew
        colMapOpt.foreach(m => stateColMap = m)
        droppedOpt.foreach(p => stateDropped = p)
        stateVersion = v
      }
      val dvChange = puts.exists { e =>
        Option(state.get(e.path)) match {
          case Some(old) => old.dv.map(_.path) != e.dv.map(_.path) // dv moved
          case None => e.dv.exists(_.rows > 0)                     // added already dv'd
        }
      }
      if (removed.isEmpty && !dvChange) { // pure append (+ in-place metadata)
        puts.foreach { e =>
          if (!state.containsKey(e.path)) runAdded.put(e.path, (v, e))
          else Option(runAdded.get(e.path)).foreach { case (av, _) =>
            runAdded.put(e.path, (av, e))
          }
          state.put(e.path, e)
        }
        advance()
      } else {
        flushRun() // a rewrite/dv boundary: a run must never span it
        val prevSnap = Snapshot(stateVersion, stateFiles, schema = stateSchema,
          partCols = statePartCols, tableId = stateTableId,
          colMap = stateColMap, droppedPhys = stateDropped)
        removed.foreach(state.remove)
        puts.foreach(e => state.put(e.path, e))
        advance()
        val nextSnap = Snapshot(v, stateFiles, schema = stateSchema,
          partCols = statePartCols, op = op, tableId = stateTableId,
          colMap = stateColMap, droppedPhys = stateDropped)
        if (!physicalStepOrRefuse(root, prevSnap, nextSnap))
          changesStep(spark, root, prevSnap, nextSnap, changeFeed = true).foreach(df =>
            frames += df.withColumn(CommitVersionCol, lit(v)))
      }
    }
    def stepFull(v: Long, s: Snapshot): Unit = {
      val newPaths = s.files.map(_.path).toSet
      val rm = state.keySet.asScala.toSeq.filterNot(newPaths)
      step(v, rm, s.files, s.schema, Some(s.partCols), s.tableId, s.op,
        Some(s.colMap), Some(s.droppedPhys))
    }
    for (v <- (fromSnap.version + 1) to cur.version) {
      if (v == cur.version) stepFull(v, cur) // already resolved
      else parse(fs, rootP, v) match {
        case None => () // torn/vacuumed interior: coarsen onto the next one
        case Some(DeltaManifest(d)) if d.base == stateVersion =>
          step(v, d.removed.filter(state.containsKey), d.entries, d.schema,
            d.partCols, d.tableId, d.op, d.colMap, d.droppedPhys)
        case Some(DeltaManifest(_)) =>
          // base discontinuity (a delta anchored past a version this walk
          // applied — cannot happen for commits this library wrote, since
          // deltas anchor on the last INTACT version): fall back to the
          // resolved snapshot and diff states; unresolvable coarsens
          snapshotAt(spark, root, v).foreach(stepFull(v, _))
        case Some(FullManifest(s)) => stepFull(v, s) // interior checkpoint
      }
    }
    flushRun()
    frames.result()
  }

  /** The net feeds against an ALREADY-RESOLVED end snapshot — the
    * replay-deterministic core the streaming source checkpoints on: both
    * ends are immutable committed versions, so a restarted query
    * recomputes byte-identical batches; a vacuumed base or a DATA-CHANGING
    * copy-on-write rewrite refuses loudly, and PHYSICAL rewrites —
    * compaction, materialization — are verified row-conserving and
    * skipped via the span walk (r12). `changeFeed = true` is
    * [[readChangesSince]]'s frame; `false` is [[readAddedSince]]'s, the
    * same spans and steps with every dv change refused (see [[changesStep]]).
    * Caveat (pre-r12 semantics preserved): a file appended AND rewritten
    * entirely WITHIN one removal-free span nets out to its final rows —
    * the consumer never saw the intermediate state (the same net-effect
    * contract as in-span dv growth on an in-span-added file).
    */
  private[graft] def changesBetween(spark: SparkSession, root: String,
                                    fromVersion: Long, cur: Snapshot,
                                    changeFeed: Boolean): DataFrame =
    rangeFrame(spark, root, fromVersion, cur,
      if (changeFeed) Seq(ChangeTypeField) else Seq.empty) { fromSnap =>
      spanPairs(spark, root, fromSnap, cur).flatMap {
        case (prev, next) =>
          if (physicalStepOrRefuse(root, prev, next)) None
          else changesStep(spark, root, prev, next, changeFeed)
      }
    }

  /** One removal-free span's row-level changes (None when there are none):
    * appended files' live rows as `insert`, dv growth as `delete` at
    * exactly the newly-deleted positions. With `changeFeed = false` (the
    * append-only tail) the inserts carry no `_change_type`, and any dv
    * change refuses instead — a delete is not an append.
    */
  private def changesStep(spark: SparkSession, root: String,
                          prev: Snapshot, next: Snapshot,
                          changeFeed: Boolean): Option[DataFrame] = {
    val oldByPath = prev.files.map(f => f.path -> f).toMap
    val added = next.files.filterNot(f => oldByPath.contains(f.path))
    val dvGrew = next.files.filter(f => oldByPath.get(f.path).exists(o =>
      o.dv.map(_.path) != f.dv.map(_.path)))
    if (!changeFeed) {
      def refusal(what: String): String =
        s"$what under $root (merge-on-read delete) — incremental reads are only " +
          "sound over append-only ranges; reprocess from a full snapshot (or " +
          "consume with changeFeed=true)"
      require(dvGrew.isEmpty, refusal(
        s"${dvGrew.size} file(s) gained or changed a deletion vector between " +
          s"v${prev.version} and v${next.version}"))
      // a dv on an ADDED file is still a delete: prev never saw the file,
      // and emitting the file's NET rows would silently hide that a delete
      // happened in-range (advice r11)
      val addedWithDv = added.count(_.dv.exists(_.rows > 0))
      require(addedWithDv == 0, refusal(
        s"$addedWithDv file(s) appended after v${prev.version} already carry a " +
          s"deletion vector at v${next.version}"))
    }
    val parts = Seq.newBuilder[DataFrame]
    if (added.nonEmpty) {
      val inserts = readSnapshot(spark, root, next.copy(files = added), Seq.empty)
      parts += (if (changeFeed) inserts.withColumn(ChangeTypeCol, lit("insert")) else inserts)
    }
    if (dvGrew.nonEmpty) {
      val newBms = DvBitmap.loadBitmaps(spark, dvGrew.flatMap(_.dv.map(_.path)))
      val oldDvPaths = dvGrew.flatMap(f => oldByPath(f.path).dv.map(_.path))
      val oldBms = DvBitmap.loadBitmaps(spark, oldDvPaths)
      val emptyBm = DvBitmap.build(Array.empty[Long])
      val diffs: Map[String, DvBitmap] = dvGrew.map { f =>
        val fk = org.apache.commons.codec.digest.DigestUtils.md5Hex(f.path)
        val nw = newBms.getOrElse(fk, sys.error(
          s"dv of ${f.path} unreadable — change feed cannot derive its deletes"))
        f.path -> DvBitmap.diff(nw, oldBms.getOrElse(fk, emptyBm))
      }.toMap
      val deleted = spark.baseRelationToDataFrame(
        relationWith(spark, root, next.copy(files = dvGrew)))
        .where(dvPredicate(spark, diffs))
        .withColumn(ChangeTypeCol, lit("delete"))
      parts += deleted
    }
    val built = parts.result()
    if (built.isEmpty) None
    else Some(built.reduce(_ unionByName _))
  }

  /** Both ends of a version range must belong to the SAME table: a table
    * recreated in place mints a fresh identity at its first commit, and
    * diffing across identities would silently serve the new table's rows
    * as if they were the old one's increment (review r12). Pre-r12
    * manifests carry no id — the check is best-effort there, exactly like
    * every other marker.
    */
  private def requireSameTable(root: String, a: Snapshot, b: Snapshot): Unit =
    require(a.tableId.isEmpty || b.tableId.isEmpty || a.tableId == b.tableId,
      s"version ${a.version} and version ${b.version} under $root belong to " +
        "DIFFERENT tables (the root was recreated in place) — reprocess " +
        "from a full snapshot")

  /** Split `(fromSnap, cur]` into maximal removal-free SPANS (each diffed
    * directly — one scan, dv growth netted across the span, the pre-r12
    * semantics) separated by REMOVAL steps (each classified by
    * [[physicalStepOrRefuse]]). A removal-free whole range stays one span
    * with ZERO extra manifest resolutions — the common tail case. Ranges
    * containing rewrites BISECT for the removal boundaries instead of
    * walking linearly: a month-lagging consumer crossing one compaction
    * in a 100k-version backlog resolves O(log versions) manifests, not
    * 100k — and the number of SCANS stays bounded by the number of
    * rewrite commits either way. Unresolvable interior versions (torn
    * slots never committed; vacuumed history) just coarsen the leaves:
    * the diff between resolved neighbors is still exact, and a removal
    * hiding in a gap classifies under the RESOLVED successor's op — a
    * data-changing or mismatched one refuses conservatively.
    */
  private def spanPairs(spark: SparkSession, root: String,
                        fromSnap: Snapshot, cur: Snapshot): Seq[(Snapshot, Snapshot)] = {
    def hasRemoval(prev: Snapshot, next: Snapshot): Boolean = {
      val nextPaths = next.files.map(_.path).toSet
      prev.files.exists(f => !nextPaths(f.path))
    }
    // first intact snapshot strictly inside (lo, hi), probing outward from
    // the midpoint so isolated torn slots cost O(1) extra
    def probeInside(lo: Long, hi: Long): Option[Snapshot] = {
      val mid = lo + (hi - lo) / 2
      Iterator.iterate(0L)(_ + 1L)
        .map(d => Seq(mid + d, mid - d).filter(v => v > lo && v < hi))
        .takeWhile(_.nonEmpty)
        .flatMap(_.iterator.flatMap(v => snapshotAt(spark, root, v)))
        .nextOption()
    }
    def split(a: Snapshot, b: Snapshot): Seq[(Snapshot, Snapshot)] =
      if (b.version == a.version + 1 || !hasRemoval(a, b)) Seq((a, b))
      else probeInside(a.version, b.version) match {
        case None => Seq((a, b)) // nothing intact inside: one coarse leaf
        case Some(m) => split(a, m) ++ split(m, b)
      }
    // re-merge adjacent removal-free leaves into MAXIMAL spans: bisection
    // probe points are not removal boundaries, and leaving them in would
    // fragment the net-out semantics (and the scan count). Sound because
    // files only accumulate across removal-free legs (a ⊆ b ⊆ c).
    val out = Seq.newBuilder[(Snapshot, Snapshot)]
    var open: Option[(Snapshot, Snapshot)] = None
    for (l <- split(fromSnap, cur)) {
      if (!hasRemoval(l._1, l._2)) open = open match {
        case Some((a, _)) => Some((a, l._2))
        case None => Some(l)
      } else {
        open.foreach(out += _); open = None
        out += l
      }
    }
    open.foreach(out += _)
    out.result()
  }

  /** Classify one step: true = a PHYSICAL rewrite a version-range consumer
    * skips (op says so AND the manifest's own live-row counts conserve —
    * a mislabeled commit can never smuggle a data change past a tail);
    * false = an ordinary removal-free diff step. Data-changing rewrites
    * and pre-r12 unlabeled commits refuse loudly.
    */
  private def physicalStepOrRefuse(root: String,
                                   prev: Snapshot, next: Snapshot): Boolean = {
    val nextPaths = next.files.map(_.path).toSet
    val removed = prev.files.filter(f => !nextPaths(f.path))
    if (removed.isEmpty) return false
    val opName = if (next.op.isEmpty) "pre-r12 unlabeled commit" else s"op=${next.op}"
    require(PhysicalOps(next.op),
      s"${removed.size} file(s) of v${prev.version} were rewritten by " +
        s"v${next.version} under $root ($opName — copy-on-write " +
        "delete/upsert or unknown) — a data-changing rewrite's changes are " +
        "not derivable from the manifest diff; reprocess from a full snapshot")
    // conservation: the physical rewrite must carry exactly the live rows
    // it replaced, provable from the manifest's own counts
    val prevPaths = prev.files.map(_.path).toSet
    val added = next.files.filterNot(f => prevPaths(f.path))
    val beforeRows = removed.map(liveRowsOf).sum
    val afterRows = added.map(liveRowsOf).sum
    require(beforeRows == afterRows,
      s"physical rewrite v${next.version} under $root does not conserve " +
        s"live rows ($beforeRows -> $afterRows) — mislabeled commit; " +
        "refusing rather than mis-stream; reprocess from a full snapshot")
    // a physical rewrite must not move a KEPT file's deletion vector
    val prevDv = prev.files.map(f => f.path -> f.dv.map(_.path)).toMap
    val dvMovedShared = next.files.filter(f =>
      prevDv.get(f.path).exists(_ != f.dv.map(_.path)))
    require(dvMovedShared.isEmpty,
      s"physical rewrite v${next.version} under $root also moved " +
        s"${dvMovedShared.size} kept file(s)' deletion vector — mislabeled " +
        "commit; reprocess from a full snapshot")
    true
  }

  /** Union span frames (schemas may differ when the table widened
    * mid-range: missing columns null-fill, the evolution contract) and
    * project to the END snapshot's column order plus `extra`.
    */
  private[graft] def alignedUnion(frames: Seq[DataFrame], outSchema: StructType,
                                  extra: Seq[String]): DataFrame = {
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val filled = outSchema.fields.foldLeft(unioned)((df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(
      (outSchema.fieldNames.toSeq ++ extra).map(n => col(quoteIdent(n))): _*)
  }

  /** The latest snapshot as a PLANNER-INTEGRATED DataFrame — the idiomatic
    * twin of [[readWhere]] (VERDICT r10 #1): `table(spark, root).where(...)`
    * routes the predicate through [[ManifestFileIndex]] into
    * [[prunedEntries]] at planning time, so file skipping no longer
    * requires hand-built `sources.Filter`s, and the scan is Spark's native
    * vectorized parquet path. Live deletion vectors APPLY (r12 — the
    * scan-side bitmap filter), unlike the raw
    * `spark.read.format("graft-manifest").load(root)` path, which cannot
    * attach the filter and keeps its refusal. Partition columns surface
    * LAST in the schema (hive-table convention).
    */
  def table(spark: SparkSession, root: String): DataFrame = {
    val snap = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
    val df = spark.baseRelationToDataFrame(relationFor(spark, root, snap))
    val dvE = snap.files.filter(_.dv.exists(_.rows > 0))
    if (dvE.isEmpty) df else df.where(!dvDeletedFilter(spark, dvE))
  }

  /** The table schema of one snapshot (column order is the library
    * contract's: partition columns in place, exactly what [[readWhere]]
    * frames carry). The parser refuses a file-bearing manifest without a
    * schema, so only a snapshot without files can lack one: it has no
    * columns.
    */
  private[graft] def tableSchemaOf(snap: Snapshot): StructType =
    snap.schema.getOrElse(StructType(Nil))

  /** The `HadoopFsRelation` of one snapshot (shared by [[table]], the
    * library read path and the `graft-manifest` format). Does NOT apply
    * deletion vectors — callers either refuse live vectors
    * ([[ManifestDataSource]]) or filter the frame with
    * [[dvDeletedFilter]].
    */
  private[sources] def relationFor(spark: SparkSession, root: String,
                                   snap: Snapshot, applyDvInPlanner: Boolean = false)
      : org.apache.spark.sql.sources.BaseRelation = {
    if (snap.files.isEmpty)
      throw new java.util.NoSuchElementException(
        s"manifest v${snap.version} under $root references no files")
    relationWith(spark, root, snap, applyDvInPlanner)
  }

  /** A SCHEMA-bearing ZERO-FILE relation for a catalog-registered table
    * with no committed manifest yet (r14, VERDICT r13 #1): a column-list
    * `CREATE TABLE ... USING graft-manifest` validates through this, a
    * SELECT before the first write reads zero rows, and — because the
    * file index is a [[ManifestFileIndex]] — `INSERT INTO` still routes
    * through [[ManifestInsertRewrite]], so the FIRST insert births
    * version 1 under the normal commit protocol. Note the deliberate
    * ambiguity this accepts: a registered table whose root was destroyed
    * out-of-band reads as empty through THIS path (the catalog carries
    * the schema); bare format reads without a schema keep the loud
    * "no committed manifest" refusal.
    */
  private[sources] def emptyRelation(spark: SparkSession, root: String,
                                     schema: StructType, partCols: Seq[String])
      : org.apache.spark.sql.sources.BaseRelation = {
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the declared schema ${schema.catalogString}"))
    relationWith(spark, root,
      Snapshot(0L, Seq.empty, schema = Some(schema), partCols = partCols))
  }

  /** [[relationFor]] without the no-files refusal — scans of an entry
    * SUBSET (a pruned or dv-split slice) and the zero-file relation of a
    * registered table go through here. `splittable = false` reads each
    * file in one task (the merge-on-read identity scans).
    */
  private def relationWith(spark: SparkSession, root: String, snap: Snapshot,
                           applyDvInPlanner: Boolean = false,
                           splittable: Boolean = true)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val (_, rootP) = fsFor(spark, root)
    val schema = tableSchemaOf(snap)
    val partCols = snap.partCols
    val partSchema = StructType(partCols.map(c => schema(c)))
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name)))
    // r14 column mapping: files carry PHYSICAL names — the mapped format
    // rewrites the reader's schemas/filters logical→physical per file
    // (positional row contract), so the relation's own schema stays logical
    val dataMap = snap.colMap.filter { case (l, p) =>
      l != p && dataSchema.fieldNames.contains(l) }
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = new ManifestFileIndex(spark, rootP, snap, partSchema,
        applyDvInPlanner),
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        if (dataMap.isEmpty && splittable)
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        else new MappedParquetFileFormat(dataMap, splittable),
      options = Map.empty[String, String])(spark)
  }

  /** The file entries of `snap` that might satisfy every filter — the
    * data-skipping seam ([[readWhere]]'s pruning, observable for tests
    * and ops: `prunedEntries(snap, fs).size` vs `snap.files.size` is the
    * skip rate).
    */
  def prunedEntries(snap: Snapshot, filters: Seq[Filter]): Seq[ManifestEntry] =
    if (filters.isEmpty) snap.files
    else {
      // entry stats and partition keys are PHYSICAL (they describe files);
      // callers filter in LOGICAL names — map before matching (r14)
      val physFilters =
        if (snap.colMap.isEmpty) filters
        else filters.map(ManifestStats.renameFilter(_, snap.physOf))
      val physSchema = snap.schema.map(st =>
        if (snap.colMap.isEmpty) st
        else StructType(st.fields.map(f => f.copy(name = snap.physOf(f.name)))))
      val partTags = physSchema.map(s =>
        ManifestStats.partTagsOf(s, snap.partCols.map(snap.physOf)))
        .getOrElse(Map.empty)
      snap.files.filter(e =>
        physFilters.forall(f =>
          ManifestStats.mightMatch(f, e.rows, e.stats, e.partition, partTags)))
    }

  /** [[prunedEntries]] plus the Bloom sidecar tier (r15, VERDICT r14 #6):
    * after stats/partition pruning, equality-constrained columns covered
    * by the snapshot's [[BloomIndex]] drop every file whose per-file
    * filter refutes all queried values. Needs spark+root (the sidecar
    * consult is a small distributed job over filter BYTES — see
    * [[ManifestBloom]]); engages only when an index exists, an equality
    * on an indexed column is present, and more than one candidate
    * survived stats (a single candidate has nothing left to prune).
    * Conservative everywhere: uncovered files, non-canonical values and
    * unreadable sidecars keep their files.
    */
  def prunedEntriesBloom(spark: SparkSession, root: String, snap: Snapshot,
                         filters: Seq[Filter]): Seq[ManifestEntry] = {
    val kept = prunedEntries(snap, filters)
    val idx = snap.bloomIdx.orNull
    if (idx == null || kept.size <= 1 || idx.dirs.isEmpty) return kept
    val physFilters =
      if (snap.colMap.isEmpty) filters
      else filters.map(ManifestStats.renameFilter(_, snap.physOf))
    val queried = ManifestBloom.equalityValues(physFilters, idx.columns.toSet)
    if (queried.isEmpty) return kept
    val excluded = try
      ManifestBloom.excludedPairs(spark, root, idx.dirs, queried)
    catch { // a vanished/corrupt sidecar degrades to no bloom pruning
      case scala.util.control.NonFatal(_) => return kept
    }
    if (excluded.isEmpty) kept
    else kept.filter { e =>
      val f = ManifestBloom.strip(e.path)
      !queried.keysIterator.exists(c => excluded((f, c)))
    }
  }

  /** Build (or incrementally extend) the per-file Bloom point-lookup
    * index over `columns` (LOGICAL names; integral or string, data
    * columns only — partition values already prune exactly). One pass
    * over files NOT already covered by the current index; files the index
    * already covers are never re-read. Commits op=bloom — PHYSICAL-only
    * (no data change: streams skip it). A build whose columns/fpp differ
    * from the existing index REPLACES it (old sidecars become vacuum
    * food). Returns the committed version — or the current head when
    * every file is already covered (no commit, nothing written).
    *
    * At 100 TB: the build reads each uncovered file once and shuffles
    * only filter bytes (~9.6 bits/row at fpp 0.01); a point lookup then
    * opens ~fpp × files instead of every stats-straddling file. Rewrites
    * (compact/CoW delete) mint new paths that simply read as uncovered —
    * re-run the build after heavy maintenance to restore coverage; dv
    * (MoR) deletes keep filters valid (false positives only).
    */
  def buildBloomIndex(spark: SparkSession, root: String,
                      columns: Seq[String], fpp: Double = 0.01,
                      maxRetries: Int = 10,
                      tornGraceMs: Long = 60000L): Long = {
    require(columns.nonEmpty, "buildBloomIndex needs at least one column")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1): $fpp")
    val (fs, rootP) = fsFor(spark, root)
    val head = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    val schema = tableSchemaOf(head)
    columns.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"no column '$c' under $root (have ${schema.fieldNames.mkString(", ")})")
      require(!head.partCols.contains(c),
        s"'$c' is a partition column — partition values prune exactly " +
          "already; bloom-index data columns instead")
      require(ManifestBloom.supported(schema(c).dataType),
        s"'$c' is ${schema(c).dataType.simpleString} — bloom equality " +
          "lookup supports integral and string columns")
    }
    val physCols = columns.map(head.physOf).sorted
    physCols.foreach(c => require(!c.contains(";") && !c.contains(","),
      s"physical column name '$c' not bloom-marker-safe (',' / ';')"))
    val sameIndex = head.bloomIdx.filter(ix =>
      ix.columns == physCols && ix.fpp == fpp)
    val covered = sameIndex.map(ix =>
      ManifestBloom.coveredFiles(spark, root, ix.dirs)).getOrElse(Set.empty)
    val uncovered = head.files.filterNot(e =>
      covered(ManifestBloom.strip(e.path)))
    if (uncovered.isEmpty && sameIndex.isDefined) return head.version
    val dirName = s"bloom-${UUID.randomUUID()}"
    val newDirs =
      if (uncovered.isEmpty) Seq.empty
      else {
        val physData = StructType(schema.fields
          .filterNot(f => head.partCols.contains(f.name))
          .map(f => f.copy(name = head.physOf(f.name))))
        ManifestBloom.buildSidecar(spark, uncovered, physData, physCols, fpp,
          new Path(dataDir(rootP), dirName).toString)
        Seq(dirName)
      }
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      // a racing same-(columns, fpp) build unions dirs (duplicate
      // coverage of a file is harmless — deterministic filters agree);
      // anything else is replaced by ours
      val dirs = base.bloomIdx.filter(ix =>
        ix.columns == physCols && ix.fpp == fpp)
        .map(_.dirs).getOrElse(Seq.empty) ++ newDirs
      Some(base.copy(version = 0L,
        bloomIdx = Some(BloomIndex(physCols, fpp, dirs.distinct)),
        op = "bloom", addedBytes = None))
    }
  }

  /** CONVERT an existing plain-parquet directory into a manifest table
    * IN PLACE (r15 — the Delta `CONVERT TO DELTA` shape): zero data
    * bytes move. The directory's parquet leaves (flat or
    * hive-partitioned `col=value` layout) are footer-harvested for
    * row counts + min/max stats and committed as version 1 (op=convert)
    * referencing the ORIGINAL file paths; schema and typed partition
    * columns come from Spark's own inference over the directory. From
    * that commit on, the table is a full manifest table: ACID appends,
    * stats/partition/bloom pruning, DML, time travel, streaming tails.
    *
    * Contract notes, stated where a user meets them:
    *  - refuses if a manifest already exists at `root` (or appears
    *    concurrently — the birth is atomic, same as CTAS);
    *  - the source files are adopted, not copied: they live OUTSIDE
    *    `data/`; [[vacuum]] reclaims them per-file once maintenance
    *    rewrites them away AND every referencing manifest leaves
    *    retention (until then the retained HISTORY still reads them,
    *    exactly like any pre-rewrite state);
    *  - partition directory types must be partitionable (string/
    *    integral/boolean/date — the same set the store writes);
    *  - concurrent writers to the directory during conversion are the
    *    caller's race to lose, as with any external-table adoption.
    *
    * At 100 TB this IS the onboarding path: one footer-metadata pass
    * (file-count-proportional, pooled, no data reads) turns a parquet
    * lake prefix into an ACID table with data skipping.
    */
  def convertParquet(spark: SparkSession, root: String,
                     maxRetries: Int = 10,
                     tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    require(latestSnapshot(spark, root).isEmpty,
      s"$root already holds a committed manifest table — convert adopts " +
        "plain parquet directories only")
    // the UNION of every footer, not one file's: Spark's default infers
    // from a single footer, and committing that would hide the columns
    // other files carry for good. Incompatible footers refuse through
    // Spark's merge error
    val fullSchema = normalizeSchema(
      spark.read.option("mergeSchema", "true").parquet(root).schema)
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory) leaves(st.getPath)
      else if (n.endsWith(".parquet")) Seq(st)
      else Seq.empty
    }
    val files = leaves(rootP)
    require(files.nonEmpty, s"no parquet files under $root — nothing to convert")
    // partition columns: the first file's hive segments name them; every
    // other file must agree (partitionOf enforces), and their inferred
    // types must be in the store's partitionable set
    val partCols: Seq[String] = {
      var segs = List.empty[String]
      var p = files.head.getPath.getParent
      val stop = Path.getPathWithoutSchemeAndAuthority(rootP).toString
      while (p != null && Path.getPathWithoutSchemeAndAuthority(p).toString != stop) {
        segs = p.getName :: segs
        p = p.getParent
      }
      segs.map { s =>
        val i = s.indexOf('=')
        require(i > 0, s"non-hive directory segment '$s' under $root — " +
          "convert supports flat or col=value layouts only")
        unescapePathName(s.substring(0, i))
      }
    }
    partCols.foreach { c =>
      val dt = fullSchema(c).dataType
      val ok = dt match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      require(ok, s"partition column '$c' inferred as ${dt.simpleString} — " +
        "not in the store's partitionable set (string/integral/boolean/date)")
    }
    val dataSchema = StructType(
      fullSchema.fields.filterNot(f => partCols.contains(f.name)))
    val harvested = harvestStats(
      new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration),
      files.map(_.getPath), dataSchema)
    val entries = files.map { st =>
      val (rows, stats) = harvested(st.getPath.toString)
      val part = if (partCols.isEmpty) None
        else Some(partitionOf(rootP, st.getPath, partCols))
      ManifestEntry(st.getPath.toString, st.getLen, rows, stats, part)
    }
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { base =>
      require(base.isEmpty,
        s"a manifest table appeared at $root concurrently — refusing to " +
          "convert over it")
      Some(Snapshot(0L, entries, schema = Some(fullSchema),
        partCols = partCols, op = "convert"))
    }
  }

  /** Drop the Bloom index: one metadata commit (op=bloom-drop) clearing
    * the ref; the sidecar dirs become vacuum food.
    */
  def dropBloomIndex(spark: SparkSession, root: String,
                     maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val head = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    if (head.bloomIdx.isEmpty) return head.version // already index-less
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      if (base.bloomIdx.isEmpty) None
      else Some(base.copy(version = 0L, bloomIdx = None,
        op = "bloom-drop", addedBytes = None))
    }
  }

  /** [[readWhere]] against an ALREADY-RESOLVED snapshot — for callers that
    * hold one (e.g. a streaming sink that reads, decides and appends per
    * micro-batch) and must not pay another manifest list+parse round-trip
    * per read on an object store.
    */
  private[graft] def readWhere(spark: SparkSession, root: String,
                               snap: Snapshot, filters: Seq[Filter]): DataFrame =
    readSnapshot(spark, root, snap, filters)

  private def readSnapshot(spark: SparkSession, root: String,
                           snap: Snapshot, filters: Seq[Filter]): DataFrame =
    snapshotFrame(spark, root, snap, filters, keepIdentity = false)

  // internal row-identity columns a merge-on-read delete computes its
  // positions through (dropped before any frame reaches a caller)
  private val FkeyCol = "__graft_dv_fkey"
  private val PosCol = "__graft_dv_pos"

  /** One snapshot as a DataFrame — EVERY library read shape flows through
    * here, and since r12 every shape plans through the same
    * [[HadoopFsRelation]]/[[ManifestFileIndex]] machinery as the
    * `graft-manifest` format (VERDICT r11 #4): a partitioned library read
    * is ONE native `FileSourceScan` whose `PartitionDirectory`s carry the
    * manifest's recorded partition values (the per-distinct-tuple union
    * of scans is retired), filters push into the parquet scan, and column
    * pruning reaches the reader. Deletion vectors apply as the scan-side
    * bitmap filter ([[dvDeletedFilter]]) on the dv-carrying files' scan —
    * at most a TWO-way union (clean files unfiltered + dv files
    * filtered), never per-partition-tuple, and clean-only tables stay a
    * single scan with zero per-row dv cost. `keepIdentity` keeps per-row
    * identity columns (`md5(_metadata.file_path)`,
    * `_metadata.row_index`) on every row — the merge-on-read ops compute
    * new positions through them; otherwise they never materialize — and
    * reads each file in exactly one task, so [[writeDvAndTag]] builds a
    * file's vector where it was scanned.
    * Output column order is the table schema's (partition columns in
    * place, not hive-last — the library contract).
    */
  private def snapshotFrame(spark: SparkSession, root: String,
                            snap: Snapshot, filters: Seq[Filter],
                            keepIdentity: Boolean): DataFrame = {
    if (snap.files.isEmpty)
      throw new java.util.NoSuchElementException(
        s"manifest v${snap.version} under $root references no files")
    val schema = tableSchemaOf(snap)
    if (keepIdentity) require(
      !schema.fieldNames.contains(FkeyCol) && !schema.fieldNames.contains(PosCol),
      s"table schema collides with reserved internal columns $FkeyCol/$PosCol")
    val entries = prunedEntries(snap, filters)
    def emptyTyped(sc: StructType): DataFrame = {
      val withId = if (!keepIdentity) sc else StructType(sc.fields ++ Seq(
        org.apache.spark.sql.types.StructField(FkeyCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(PosCol,
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(new java.util.ArrayList[Row](), withId)
    }
    val outCols = schema.fieldNames.toSeq ++
      (if (keepIdentity) Seq(FkeyCol, PosCol) else Seq.empty)
    def withIdentity(df: DataFrame): DataFrame = df
      .withColumn(FkeyCol, org.apache.spark.sql.functions.md5(col("_metadata.file_path")))
      .withColumn(PosCol, col("_metadata.row_index"))
    def scanOf(es: Seq[ManifestEntry]): DataFrame = {
      val df = spark.baseRelationToDataFrame(
        relationWith(spark, root, snap.copy(files = es), splittable = !keepIdentity))
      if (keepIdentity) withIdentity(df) else df
    }
    val base: DataFrame =
      if (entries.isEmpty) emptyTyped(schema)
      else {
        val (dvE, cleanE) = entries.partition(_.dv.exists(_.rows > 0))
        val parts = Seq.newBuilder[DataFrame]
        if (cleanE.nonEmpty) parts += scanOf(cleanE)
        if (dvE.nonEmpty) parts += scanOf(dvE).where(!dvDeletedFilter(spark, dvE))
        parts.result().reduce(_ unionByName _)
          .select(outCols.map(n => col(quoteIdent(n))): _*)
      }
    filters.foldLeft(base)((d, f) => d.where(filterColumn(f)))
  }

  /** The [[graft.plans.DvDeleted]] predicate Column for `dvE`'s vectors —
    * keyed by the data file's PATH STRING exactly as the scan renders
    * `_metadata.file_path` (= `Path.toString`, the manifest's own
    * convention, probe-confirmed r11). A stored fkey that matches none of
    * the entries' md5s means path rendering diverged between manifest and
    * runtime — refuse loudly rather than silently resurrect (the same
    * posture as the write-side identity check).
    */
  private def dvDeletedFilter(spark: SparkSession, dvE: Seq[ManifestEntry]): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.DvDeleted(
      ColumnShim.expression(col("_metadata.file_path")),
      ColumnShim.expression(col("_metadata.row_index")),
      dvBroadcastFor(spark, dvE)))
  }

  /** The BROADCAST deletion-vector map of `dvE`'s vectors, keyed by data
    * file path — cached per dv-path set (r13): dv files are immutable, and
    * the planner-integrated dv apply ([[graft.plans.ManifestDvApplyRule]])
    * runs at ANALYSIS time, so every re-analysis of a query over the same
    * snapshot must not re-read the vectors or re-broadcast. A stored fkey
    * matching none of the entries' md5s means path rendering diverged
    * between manifest and runtime — refuse loudly rather than silently
    * resurrect (the write-side identity check's posture).
    */
  private val dvBroadcastCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[
          Map[org.apache.spark.unsafe.types.UTF8String, DvBitmap]]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          org.apache.spark.broadcast.Broadcast[
            Map[org.apache.spark.unsafe.types.UTF8String, DvBitmap]]]): Boolean =
        size > 16
    })

  private[graft] def dvBroadcastFor(spark: SparkSession, dvE: Seq[ManifestEntry])
      : org.apache.spark.broadcast.Broadcast[
          Map[org.apache.spark.unsafe.types.UTF8String, DvBitmap]] = {
    val cacheKey = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      (dvE.map(_.path) ++ dvE.flatMap(_.dv.map(_.path))).sorted.mkString("\n"))
    Option(dvBroadcastCache.get(cacheKey)).getOrElse {
      val byFkey = DvBitmap.loadBitmaps(spark, dvE.flatMap(_.dv.map(_.path)))
      val fkeyOf: ManifestEntry => String = e =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(e.path)
      val expected = dvE.map(fkeyOf).toSet
      val unknown = byFkey.keySet -- expected
      require(unknown.isEmpty,
        s"deletion-vector identity mismatch: stored fkeys ${unknown.take(3)} match " +
          "no scanned entry — path rendering diverged between manifest and runtime; " +
          "refusing rather than resurrect deleted rows")
      val keyed = dvE.flatMap(e => byFkey.get(fkeyOf(e)).map(bm =>
        org.apache.spark.unsafe.types.UTF8String.fromString(e.path) -> bm)).toMap
      val bcast = spark.sparkContext.broadcast(keyed)
      dvBroadcastCache.put(cacheKey, bcast)
      bcast
    }
  }

  /** The bare [[graft.plans.DvDeleted]] Column over an arbitrary
    * path→bitmap map — the read path negates it (live rows); the change
    * feed uses it POSITIVELY over a dv DIFF (exactly the rows one
    * dv-growth step deleted).
    */
  private def dvPredicate(spark: SparkSession,
                          byPath: Map[String, DvBitmap]): Column = {
    val keyed = byPath.map { case (p, bm) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(p) -> bm }
    val bcast = spark.sparkContext.broadcast(keyed)
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.DvDeleted(
      ColumnShim.expression(col("_metadata.file_path")),
      ColumnShim.expression(col("_metadata.row_index")), bcast))
  }

  private def quoteIdent(n: String): String = "`" + n.replace("`", "``") + "`"

  /** The residual predicate of one pushed filter — applied after pruning
    * so [[readWhere]] returns exactly the filtered rows. Throws on a
    * filter shape the store cannot express (callers push only what they
    * pass here, so this is a programming error, not data-dependent).
    * Dotted attribute names ALWAYS address nested struct fields
    * (`meta.k`) — the parquet/Spark pushdown convention; flat columns
    * with literal dots are refused at the write, so the resolution is
    * unambiguous on any table this store wrote (a dotted flat column
    * adopted by CONVERT TO MANIFEST surfaces as a loud unresolvable-column
    * error here, never a silent wrong-column match).
    */
  private def filterColumn(f: Filter): Column = {
    def c(n: String) = {
      // split with limit -1: plain split drops trailing empties, so a
      // malformed "a." would silently resolve to column "a" instead of
      // erring loudly (review r11)
      val parts = n.split("\\.", -1)
      require(parts.forall(_.nonEmpty), s"malformed column reference '$n'")
      col(parts.map(quoteIdent).mkString("."))
    }
    f match {
      case EqualTo(a, v) => c(a) === lit(v)
      case EqualNullSafe(a, v) => c(a) <=> lit(v)
      case GreaterThan(a, v) => c(a) > lit(v)
      case GreaterThanOrEqual(a, v) => c(a) >= lit(v)
      case LessThan(a, v) => c(a) < lit(v)
      case LessThanOrEqual(a, v) => c(a) <= lit(v)
      case In(a, vs) => c(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => c(a).isNull
      case IsNotNull(a) => c(a).isNotNull
      case And(l, r) => filterColumn(l) && filterColumn(r)
      case Or(l, r) => filterColumn(l) || filterColumn(r)
      case Not(x) => !filterColumn(x)
      case StringStartsWith(a, v) => c(a).startsWith(v)
      case StringEndsWith(a, v) => c(a).endsWith(v)
      case StringContains(a, v) => c(a).contains(v)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new IllegalArgumentException(
        s"unsupported pushed filter: $other")
    }
  }

  /** Copy-on-write row-level DELETE — the Delta/Iceberg `DELETE WHERE`
    * shape. Files that cannot contain a matching row (partition values +
    * stats, the [[readWhere]] pruning) keep their identity byte-for-byte;
    * only the files that MIGHT match are rewritten without the matching
    * rows (a rewrite whose surviving rows are empty simply drops the
    * file). Returns (rowsDeleted, filesRewritten, committedVersion) —
    * version -1 when a concurrent compaction/delete already replaced a
    * touched file (same abandonment contract as [[compact]]: committing
    * our copy could resurrect rows the winner deleted). Old versions
    * still read the deleted rows until [[vacuum]] — time travel is
    * retention, not a leak. At 100 TB the pruning is the point: a delete
    * keyed on a partition or clustered column rewrites only the touched
    * slice, never the table. ISOLATION: a concurrent blind APPEND rebases
    * in untouched, so rows it adds that match this predicate SURVIVE this
    * delete (see [[commitReplacing]]) — compliance-erasure callers opt
    * into [[deleteWhereSerializable]]'s quiescent-pass loop instead.
    * Deleting EVERY row leaves a readable
    * zero-row table on an unpartitioned layout (the rewrite's schema-only
    * file keeps the manifest non-empty); a partitioned full-table delete
    * writes no files at all and is REFUSED rather than committed as an
    * unreadable empty manifest — drop the table instead.
    */
  def deleteWhere(spark: SparkSession, root: String, filters: Seq[Filter],
                  maxRetries: Int = 10,
                  tornGraceMs: Long = 60000L): (Long, Int, Long) =
    deleteFrom(spark, root,
      latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(s"no committed manifest under $root")),
      filters, maxRetries, tornGraceMs)

  /** [[deleteWhere]] against an explicit base snapshot — the test seam for
    * the concurrent-rewrite abandonment path (same pattern as
    * [[compactFrom]]).
    */
  private[graft] def deleteFrom(spark: SparkSession, root: String,
                                before: Snapshot, filters: Seq[Filter],
                                maxRetries: Int = 10,
                                tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    require(filters.nonEmpty, "deleteWhere with no filters would truncate the " +
      "table — pass AlwaysTrue() explicitly if that is really the intent")
    val (fs, rootP) = fsFor(spark, root)
    val touched = prunedEntries(before, filters)
    if (touched.isEmpty) return (0L, 0, before.version)
    val matchPred = filters.map(filterColumn).reduce(_ && _)
    // read ONLY the touched files (snapshot copy), keep the non-matching
    // rows; NULL comparisons don't match the delete predicate, so they
    // survive — the SQL DELETE semantics
    val surviving = readSnapshot(spark, root, before.copy(files = touched), Seq.empty)
      .where(!coalesce(matchPred, lit(false)))
    // the deleted count comes from MANIFEST metadata: the touched entries'
    // LIVE rows (physical minus the deletion vector's) minus the rewrite's,
    // zero extra scans of a 100 TB slice. The rewrite runs before the
    // count is known — a no-match delete orphans its rewrite directory
    // (vacuum food, same as an abandoned compaction) instead of
    // pre-scanning every delete.
    val mine = writeBatch(fs, rootP, surviving, before.partCols,
      internalRewrite = true, colMap = before.colMap)
    val deleted = touched.map(liveRowsOf).sum - mine.map(_.rows).sum
    if (deleted == 0L) return (0L, 0, before.version) // nothing matched
    val v = commitReplacing(fs, rootP, dvSignature(touched), mine, before,
      maxRetries, tornGraceMs, refuseEmpty = true, op = "delete")
    if (v == -1L) (0L, 0, -1L) // abandoned: NOTHING was deleted
    else (deleted, touched.size, v)
  }

  /** An entry's LIVE row count: physical rows minus its deletion vector's. */
  private def liveRowsOf(e: ManifestEntry): Long =
    e.rows - e.dv.map(_.rows).getOrElse(0L)

  private val ReplaceWhereTag = "[graft replaceWhere]"

  /** Predicate-scoped atomic OVERWRITE (r15 — the Delta `replaceWhere`
    * shape): ONE commit removes every row matching `condSql` and lands
    * `df` in its place. The idiomatic surface is
    * `df.write.format("graft-manifest").mode("overwrite")
    * .option("replaceWhere", "date = '2026-01-01'").save(root)` — the
    * backfill idiom: recompute a slice, swap it in atomically, readers
    * see either the old slice or the new one, never a mix or a gap.
    *
    * Semantics, stated:
    *  - every incoming row MUST satisfy the predicate (a row that
    *    doesn't would silently land outside the slice being replaced —
    *    the Delta rule); violations refuse the whole commit loudly with
    *    the row rendered, and nothing is committed;
    *  - table constraints and column mapping apply to the incoming batch
    *    exactly as on append;
    *  - the batch schema must match the table's (overwrite does not
    *    widen — ADD COLUMNS first);
    *  - file pruning: stats-prunable conjuncts of the predicate bound
    *    the touched set; touched files are rewritten without their
    *    matching rows (a file left empty just drops), untouched files
    *    keep byte identity. At 100 TB a backfill keyed on a partition
    *    or clustered column rewrites only the slice;
    *  - isolation is [[commitReplacing]]'s: abandonment (-1) when a
    *    concurrent rewrite superseded a touched file; a racing blind
    *    append's matching rows survive (WriteSerializable — loop with
    *    [[deleteWhereSerializable]] + append if erasure-grade replacement
    *    is needed).
    *
    * Returns (rowsReplaced, filesRewritten, version) — version -1 on
    * abandonment (nothing changed; orphaned rewrite dirs are vacuum
    * food).
    */
  def overwriteWhere(spark: SparkSession, df: DataFrame, root: String,
                     condSql: String, maxRetries: Int = 10,
                     tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    val schema = tableSchemaOf(before)
    require(normalizeSchema(df.schema).fieldNames.sorted.toSeq ==
      schema.fieldNames.sorted.toSeq,
      s"replaceWhere batch columns ${df.columns.sorted.mkString(", ")} must " +
        s"match the table's ${schema.fieldNames.sorted.mkString(", ")} — " +
        "overwrite does not evolve schemas (ADD COLUMNS first)")
    // resolve the predicate against the TABLE's analyzed frame, so the
    // condition speaks logical names and fails loudly on unknown columns
    val table = readSnapshot(spark, root, before, Seq.empty)
    val condCol = expr(condSql)
    val resolvedCond = table.where(condCol).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"cannot resolve replaceWhere predicate '$condSql'"))
    require(resolvedCond.deterministic,
      s"replaceWhere needs a deterministic predicate — got $condSql")
    require(!resolvedCond.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"replaceWhere does not support subqueries: $condSql")
    val pruning = ManifestDml.pruningOf(resolvedCond)
    val cond = ManifestDml.byName(resolvedCond)
    // every incoming row must satisfy the predicate — enforced INSIDE the
    // batch write's own pass (the constraint mechanism: a violating row
    // raises with the row rendered, writeBatch unwraps the tag, deletes
    // the partial directory and nothing commits). NULL does NOT satisfy.
    val rowJson = to_json(struct(df.columns.map(c => col(quoteIdent(c))).toIndexedSeq: _*))
    val guarded = df.where(assert_true(coalesce(condCol, lit(false)),
      concat(lit(s"$ConstraintTag$ReplaceWhereTag row outside the replaced " +
        s"slice (predicate: $condSql): "), rowJson)).isNull)
    val mine = writeBatch(fs, rootP, guarded, before.partCols,
      colMap = before.colMap, constraints = before.constraints)
    // rewrite the touched slice without its matching rows (deleteFrom's
    // metadata-counted shape: zero extra scans)
    val touched = prunedEntries(before, pruning)
    val (survivors, replaced) =
      if (touched.isEmpty) (Seq.empty[ManifestEntry], 0L)
      else {
        val surviving = readSnapshot(spark, root,
          before.copy(files = touched), Seq.empty).where(!coalesce(cond, lit(false)))
        val sEntries = writeBatch(fs, rootP, surviving, before.partCols,
          internalRewrite = true, colMap = before.colMap)
        (sEntries, touched.map(liveRowsOf).sum - sEntries.map(_.rows).sum)
      }
    if (replaced == 0L) {
      // nothing matched: the batch still lands, but as a pure addition —
      // no touched file changes meaning, so no replacement (the no-match
      // rewrite directory is orphaned vacuum food, deleteFrom's shape)
      val v = commitReplacing(fs, rootP, Map.empty, mine, before,
        maxRetries, tornGraceMs, refuseEmpty = true, op = "overwrite")
      return if (v == -1L) (0L, 0, -1L) else (0L, 0, v)
    }
    val v = commitReplacing(fs, rootP, dvSignature(touched),
      survivors ++ mine, before, maxRetries, tornGraceMs,
      refuseEmpty = true, op = "overwrite")
    if (v == -1L) (0L, 0, -1L) else (replaced, touched.size, v)
  }

  /** DYNAMIC PARTITION OVERWRITE (r15): replace exactly the partitions
    * present in `df`, atomically — the Spark
    * `partitionOverwriteMode=dynamic` semantics as one manifest commit,
    * and what SQL `INSERT OVERWRITE` on a partitioned manifest table
    * means. Cheaper than [[overwriteWhere]] where it applies: whole
    * files die (partition membership is exact per entry), so there is NO
    * survivor rewrite — the commit removes the touched partitions' files
    * and adds the batch's. Unpartitioned tables refuse with the
    * replaceWhere recipe. Constraints and column mapping apply to the
    * batch as on append. Returns (rowsReplaced, filesRemoved, version);
    * -1 = abandoned (concurrent rewrite superseded a touched file).
    */
  def overwriteDynamicPartitions(spark: SparkSession, df: DataFrame,
                                 root: String, maxRetries: Int = 10,
                                 tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    require(before.partCols.nonEmpty,
      s"the table under $root is unpartitioned — INSERT OVERWRITE means " +
        "dynamic PARTITION overwrite; use replaceWhere (overwriteWhere) " +
        "for a predicate-scoped swap on an unpartitioned table")
    val schema = tableSchemaOf(before)
    require(normalizeSchema(df.schema).fieldNames.sorted.toSeq ==
      schema.fieldNames.sorted.toSeq,
      s"overwrite batch columns ${df.columns.sorted.mkString(", ")} must " +
        s"match the table's ${schema.fieldNames.sorted.mkString(", ")}")
    val mine = writeBatch(fs, rootP, df, before.partCols,
      colMap = before.colMap, constraints = before.constraints)
    if (mine.isEmpty) return (0L, 0, before.version) // empty batch: no-op
    // the partitions being replaced = exactly the tuples the batch wrote
    // (each entry carries its partition values — no extra job)
    val newParts = mine.flatMap(_.partition).toSet
    val touched = before.files.filter(e => e.partition.exists(newParts))
    val replaced = touched.map(liveRowsOf).sum
    val v = commitReplacing(fs, rootP, dvSignature(touched), mine, before,
      maxRetries, tornGraceMs, refuseEmpty = true, op = "overwrite")
    if (v == -1L) (0L, 0, -1L) else (replaced, touched.size, v)
  }

  /** MERGE-ON-READ row-level DELETE (r11) — the Delta deletion-vector
    * shape: instead of rewriting every file that might match
    * ([[deleteWhere]]'s copy-on-write), the matching rows' POSITIONS are
    * written as a tiny per-file deletion-vector parquet and the manifest
    * entries re-point at it in one commit — the data files keep byte
    * identity, so the delete costs O(matched rows), not O(touched bytes).
    * Every library read applies the vectors (scan anti-joins the dv rows
    * on (md5(file_path), row_index) — see [[scanEntries]]); a later
    * delete on the same file MERGES positions (old ∪ new, disjoint by
    * construction because new positions are computed over LIVE rows
    * only); compaction / CoW delete / upsert MATERIALIZE vectors away
    * naturally (their rewrites read dv-filtered and emit clean files),
    * and [[materializeDeletes]] does it on demand. Returns (rowsDeleted,
    * filesTagged, version); -1 abandonment when a touched file was
    * concurrently rewritten OR its dv moved (two racing MoR deletes on
    * one file must not lose positions — [[commitReplacing]]).
    *
    * Trade-offs vs copy-on-write, stated: reads of dv-carrying files pay
    * the anti-join until a rewrite cleans them; the planner-integrated
    * `graft-manifest` format REFUSES tables with live vectors (it cannot
    * apply them — materialize first); `readAddedSince` refuses across a
    * dv change (a delete is not an append). Same isolation as
    * [[deleteWhere]]: a concurrent blind append's matching rows survive.
    * At 100 TB this is the compliance-erasure shape: a delete keyed on a
    * clustered column touches kilobytes of dv files instead of rewriting
    * terabytes of parquet.
    */
  def deleteWhereMergeOnRead(spark: SparkSession, root: String,
                             filters: Seq[Filter], maxRetries: Int = 10,
                             tornGraceMs: Long = 60000L,
                             autoMaterializeFraction: Option[Double] = None)
      : (Long, Int, Long) = {
    val r = deleteMorFrom(spark, root,
      latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(s"no committed manifest under $root")),
      filters, maxRetries, tornGraceMs)
    autoMaterialize(spark, root, r._3, autoMaterializeFraction, maxRetries, tornGraceMs)
    r
  }

  /** SERIALIZABLE delete (r15, VERDICT r14 #4) — the opt-in upgrade over
    * the store's WriteSerializable default. Under WriteSerializable a
    * concurrent blind APPEND rebases in untouched, so its matching rows
    * survive a racing [[deleteWhere]] / [[deleteWhereMergeOnRead]] (see
    * [[commitReplacing]]'s posture paragraph); compliance erasure needs
    * "zero matching rows as of some commit point". This loops delete
    * passes until a QUIESCENT pass: one that deletes zero rows against a
    * snapshot that is STILL the table head when the pass ends — at that
    * version no matching row exists, which is exactly a serial
    * delete-after-everything ordering. Each pass costs only the pruned
    * slice (usually nothing after the first: the quiescence check is one
    * prunedEntries walk over manifest stats, zero data reads when no new
    * file can match), so the loop converges unless matching appends land
    * faster than passes complete — after `maxPasses` it refuses loudly
    * with the progress made, rather than spinning. Abandoned passes
    * (concurrent rewrite, -1) count against the same bound. Returns
    * (rowsDeleted across all passes, filesTouched across all passes,
    * version of the quiescent head). MoR by default (erasure touches
    * kilobytes of dv, not terabytes of parquet); `mergeOnRead = false`
    * rewrites copy-on-write.
    *
    * SQL surface: `ALTER TABLE t SET TBLPROPERTIES
    * ('graft.isolation' = 'serializable')` upgrades every subsequent SQL
    * `DELETE FROM t` to this loop (ManifestDeleteCommand consults the
    * property at run time).
    */
  def deleteWhereSerializable(spark: SparkSession, root: String,
                              filters: Seq[Filter],
                              mergeOnRead: Boolean = true,
                              maxPasses: Int = 10, maxRetries: Int = 10,
                              tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    require(filters.nonEmpty, "deleteWhereSerializable with no filters would " +
      "truncate the table — pass AlwaysTrue() explicitly if that is the intent")
    serializableDeleteLoop(spark, root, maxPasses) { head =>
      if (mergeOnRead) deleteMorFrom(spark, root, head, filters, maxRetries, tornGraceMs)
      else deleteFrom(spark, root, head, filters, maxRetries, tornGraceMs)
    }
  }

  /** The quiescent-pass loop shared by [[deleteWhereSerializable]] and the
    * TBLPROPERTIES-upgraded SQL DELETE: run `pass` against successive
    * heads until a pass deletes zero rows against a snapshot that is
    * still the head when the pass ends, then report the accumulated
    * (rows, files) at that quiescent version. Abandoned passes (-1)
    * consume an attempt and retry; `maxPasses` exhaustion refuses loudly.
    */
  private[graft] def serializableDeleteLoop(spark: SparkSession, root: String,
                                            maxPasses: Int)
      (passFn: Snapshot => (Long, Int, Long)): (Long, Int, Long) = {
    var deleted = 0L
    var files = 0
    var pass = 0
    while (pass < maxPasses) {
      pass += 1
      val head = latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
      val (n, f, v) = passFn(head)
      if (v != -1L) { // abandoned passes retry against the new head
        deleted += n
        files += f
        if (n == 0L &&
            latestSnapshot(spark, root).exists(_.version == head.version))
          return (deleted, files, head.version) // quiescent: serialized at head
      }
    }
    throw new IllegalStateException(
      s"serializable delete did not reach a quiescent pass in $maxPasses " +
        s"passes under $root ($deleted rows deleted so far) — concurrent " +
        "writers are landing matching rows faster than passes complete; " +
        "pause them or raise maxPasses")
  }

  /** The post-commit retirement hook of the merge-on-read ops (r12,
    * VERDICT r11 #2): with `fraction` set, any file whose deleted share
    * reached it is immediately rewritten clean in a FOLLOW-UP commit, so
    * vectors cannot accrue unboundedly on a hot file. Best-effort by
    * design — the dv commit already succeeded and is the version the op
    * reports; a racing rewrite makes the retirement abandon harmlessly
    * (the vectors stay until the next delete or a manual
    * [[materializeDeletes]]/[[compact]]).
    */
  private def autoMaterialize(spark: SparkSession, root: String, committed: Long,
                              fraction: Option[Double],
                              maxRetries: Int, tornGraceMs: Long): Unit =
    fraction.foreach { f =>
      if (committed > 0)
        materializeDeletes(spark, root, maxRetries, tornGraceMs, minDvFraction = f): Unit
    }

  private[graft] def deleteMorFrom(spark: SparkSession, root: String,
                                   before: Snapshot, filters: Seq[Filter],
                                   maxRetries: Int = 10,
                                   tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    require(filters.nonEmpty, "deleteWhereMergeOnRead with no filters would " +
      "truncate the table — pass AlwaysTrue() explicitly if that is the intent")
    deleteMorExpr(spark, root, before, filters,
      filters.map(filterColumn).reduce(_ && _), maxRetries, tornGraceMs)
  }

  /** [[deleteMorFrom]] generalized to an ARBITRARY deterministic predicate
    * Column (r13, the SQL `DELETE FROM` path): `pruning` is the
    * best-effort translatable subset of the condition (file skipping
    * only — prunes less when the condition is not Filter-expressible),
    * `cond` the full condition applied exactly.
    */
  private[graft] def deleteMorExpr(spark: SparkSession, root: String,
                                   before: Snapshot, pruning: Seq[Filter],
                                   cond: Column, maxRetries: Int = 10,
                                   tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val touched = prunedEntries(before, pruning)
    if (touched.isEmpty) return (0L, 0, before.version)
    // LIVE rows of the touched slice, with per-row file identity; existing
    // vectors are already applied by the scan, so new positions are
    // disjoint from old ones and per-file counts are exact
    val live = snapshotFrame(spark, root, before.copy(files = touched),
      Seq.empty, keepIdentity = true)
    val del = live.where(coalesce(cond, lit(false)))
      .select(col(FkeyCol).as("fkey"), col(PosCol).as("pos"))
    writeDvAndTag(spark, rootP, root, touched, del) match {
      case None => (0L, 0, before.version) // nothing matched; dvDir = vacuum food
      case Some((tagged, replacedSig, deleted)) =>
        val v = commitReplacing(fs, rootP, replacedSig,
          tagged, before, maxRetries, tornGraceMs, refuseEmpty = false,
          op = "mor-delete")
        if (v == -1L) (0L, 0, -1L) else (deleted, tagged.size, v)
    }
  }

  /** MERGE-ON-READ row-level UPDATE (r13, the SQL `UPDATE` path): the
    * matching rows' positions land in per-file deletion vectors and the
    * SAME rows re-append with `set` applied — one atomic commit
    * (op=mor-update), cost O(matched rows), touched data files keep byte
    * identity. The change feed reads it exactly as the old rows' deletes
    * plus the updated rows' inserts. `set` values may reference the
    * table's own columns (`SET n = n + 1`); each is cast to the column's
    * existing type (an UPDATE cannot change the schema). Same isolation
    * and abandonment contracts as [[upsertByKeyMergeOnRead]].
    */
  private[graft] def updateMorExpr(spark: SparkSession, root: String,
                                   before: Snapshot, pruning: Seq[Filter],
                                   cond: Column, set: Map[String, Column],
                                   maxRetries: Int = 10,
                                   tornGraceMs: Long = 60000L): (Long, Int, Long) = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    val (fs, rootP) = fsFor(spark, root)
    val table = tableSchemaOf(before)
    set.keys.foreach(k => require(table.fieldNames.contains(k),
      s"UPDATE SET column $k is not a column of the table under $root"))
    val touched = prunedEntries(before, pruning)
    if (touched.isEmpty) return (0L, 0, before.version)
    val live = snapshotFrame(spark, root, before.copy(files = touched),
      Seq.empty, keepIdentity = true)
    val matched = live.where(coalesce(cond, lit(false)))
    val del = matched.select(col(FkeyCol).as("fkey"), col(PosCol).as("pos"))
    writeDvAndTag(spark, rootP, root, touched, del) match {
      case None => (0L, 0, before.version) // nothing matched
      case Some((tagged, replacedSig, nUpdated)) =>
        val updated = matched.select(table.fieldNames.toSeq.map { n =>
          set.get(n).map(_.cast(table(n).dataType).as(n))
            .getOrElse(col(quoteIdent(n)))
        }: _*)
        // an updated PARTITION value must still round-trip the hive path
        // (incl. the empty-string-is-NULL-sentinel refusal)
        if (before.partCols.exists(set.contains))
          requirePartitionable(updated, before.partCols)
        val mineUpdates = writeBatch(fs, rootP, updated, before.partCols,
          internalRewrite = true, colMap = before.colMap,
          constraints = before.constraints) // SET values are NEW — enforce
        val v = commitReplacing(fs, rootP, replacedSig, tagged ++ mineUpdates,
          before, maxRetries, tornGraceMs, refuseEmpty = false,
          op = "mor-update")
        if (v == -1L) (0L, 0, -1L) else (nUpdated, tagged.size, v)
    }
  }

  /** The shared deletion-vector WRITE of the merge-on-read ops: `del` =
    * (fkey, pos) of the rows to delete, over LIVE rows of `touched` only,
    * partitioned so that every fkey sits in ONE task — the identity scan
    * reads each file in one task ([[snapshotFrame]] with `keepIdentity`),
    * and a frame past a shuffle must be repartitioned by fkey. Each task
    * groups its rows by fkey, packs each file's positions into ONE
    * compressed [[DvBitmap]] merged with the file's OLD vector, writes it
    * as the one-row dv file `dv-<uuid>/fk=<fkey>/part-<task attempt>.parquet`
    * itself ([[DvBitmap.writeFile]]) and returns `(fkey, file, n)` — ONE
    * Spark job with no shuffle; the driver collects only those small rows,
    * never a bitmap, and refuses an fkey that came back from two tasks (a
    * split file would otherwise lose the other task's positions). A
    * failed or speculative attempt leaves a file no manifest references
    * (vacuum removes it with the dir). Old vectors come from the cached
    * broadcast the touched-slice scan in `del` has just built for the
    * same entries ([[dvBroadcastFor]]), so they are not reloaded. Returns
    * the re-pointed entries plus the NEW deletion count — or None when
    * nothing matched (any written dv files are vacuum food, like a
    * no-match CoW rewrite).
    */
  private def writeDvAndTag(spark: SparkSession, rootP: Path, root: String,
                            touched: Seq[ManifestEntry], del: DataFrame)
      : Option[(Seq[ManifestEntry], Map[String, Option[String]], Long)] = {
    val fkeyOf: ManifestEntry => String = e =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(e.path)
    val withOldDv = touched.filter(_.dv.exists(_.rows > 0))
    // the cached broadcast is keyed by data-file path; tasks reach it
    // through their fkey (md5 of that path)
    val oldBc = if (withOldDv.isEmpty) None else Some(dvBroadcastFor(spark, withOldDv))
    val oldPathOf = withOldDv.map(e => fkeyOf(e) -> e.path).toMap
    val dvDir = new Path(dataDir(rootP), s"dv-${UUID.randomUUID()}").toString
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val sp = spark
    import sp.implicits._
    val written: Array[(String, String, Long)] =
      try del.select(col("fkey"), col("pos")).as[(String, Long)]
        .mapPartitions { it =>
          val byFkey = scala.collection.mutable.LinkedHashMap
            .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
          it.foreach { case (fk, pos) =>
            byFkey.getOrElseUpdate(fk, new scala.collection.mutable.ArrayBuilder.ofLong) += pos
          }
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          byFkey.iterator.map { case (fk, positions) =>
            var bm = DvBitmap.build(positions.result())
            for (p <- oldPathOf.get(fk); bc <- oldBc;
                 old <- bc.value.get(org.apache.spark.unsafe.types.UTF8String.fromString(p)))
              bm = DvBitmap.union(bm, old)
            val file = new Path(s"$dvDir/fk=$fk", s"part-$attempt.parquet")
            DvBitmap.writeFile(confBc.value.value, file, fk, bm)
            (fk, file.toString, bm.cardinality)
          }
        }.collect()
      finally confBc.destroy()
    val split = written.groupBy(_._1).collect { case (fk, rs) if rs.length > 1 => fk }
    require(split.isEmpty,
      s"deletion-vector write under $root: file(s) with fkey ${split.take(3)} came " +
        "back from more than one task — their positions would be split across " +
        "vectors; refusing rather than keep only one task's deletions")
    val totals = written.map { case (fk, _, n) => fk -> n }.toMap
    val fileOf = written.map { case (fk, f, _) => fk -> f }.toMap
    val byFkey = touched.map(e => fkeyOf(e) -> e).toMap
    val unknown = totals.keySet -- byFkey.keySet
    require(unknown.isEmpty,
      s"deletion-vector identity mismatch under $root: the scan rendered file " +
        s"paths whose md5 is not among the touched entries (${unknown.take(3)}). " +
        "Path rendering diverged between manifest and runtime — refusing rather " +
        "than mis-associate deleted positions")
    // tagged = files with NEW deletions (total beyond their old vector)
    val newCounts: Map[String, Long] = totals.flatMap { case (fk, total) =>
      val old = byFkey(fk).dv.map(_.rows).getOrElse(0L)
      if (total > old) Some(fk -> (total - old)) else None
    }
    if (newCounts.isEmpty) return None
    val originals = touched.filter(e => newCounts.contains(fkeyOf(e)))
    val tagged = originals.map { e =>
      val fk = fkeyOf(e)
      require(totals(fk) <= e.rows,
        s"dv positions (${totals(fk)}) exceed physical rows for ${e.path}")
      e.copy(dv = Some(DvRef(fileOf(fk), totals(fk))))
    }
    Some((tagged, dvSignature(originals), newCounts.values.sum))
  }

  /** Rewrite dv-carrying files WITHOUT their deleted rows and drop the
    * vectors — the on-demand copy-on-write catch-up that makes a table
    * readable through the planner-integrated format again. Returns
    * (filesMaterialized, version); (0, -1) on the usual abandonment (a
    * concurrent rewrite superseded a dv-carrying input — nothing was
    * materialized; retry against the fresh snapshot). A fully-deleted
    * UNPARTITIONED table materializes to a readable zero-row table (the
    * schema-only rewrite file is kept — [[deleteWhere]]'s contract); a
    * fully-deleted partitioned one writes no files at all and is refused
    * like a partitioned full-table CoW delete — drop the table instead.
    *
    * `minDvFraction` (r12, VERDICT r11 #2) scopes the rewrite to files
    * whose DELETED fraction (dv.rows / rows) is at or above the threshold
    * — the Delta-shaped retirement policy: a file more-than-half deleted
    * pays more in scan-and-filter tax than its rewrite costs, while a
    * lightly-deleted file keeps its byte identity. 0.0 (default)
    * materializes every vector (the pre-r12 contract); files the
    * threshold skips keep their vectors and the table stays merge-on-read
    * for them.
    */
  def materializeDeletes(spark: SparkSession, root: String,
                         maxRetries: Int = 10,
                         tornGraceMs: Long = 60000L,
                         minDvFraction: Double = 0.0): (Int, Long) = {
    require(minDvFraction >= 0.0 && minDvFraction <= 1.0,
      s"minDvFraction must be in [0, 1]: $minDvFraction")
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    val dvE = before.files.filter(e => e.dv.exists(_.rows > 0) &&
      (minDvFraction == 0.0 ||
        (e.rows > 0 && e.dv.get.rows.toDouble / e.rows >= minDvFraction)))
    if (dvE.isEmpty) return (0, before.version)
    val (fs, rootP) = fsFor(spark, root)
    val raw = writeBatch(fs, rootP,
      readSnapshot(spark, root, before.copy(files = dvE), Seq.empty),
      before.partCols, internalRewrite = true, colMap = before.colMap)
    val rewriting = dvE.map(_.path).toSet
    val cleanRemainder = before.files.exists(e => !rewriting(e.path))
    val nonZero = raw.filterNot(_.rows == 0L)
    // zero-row rewrite files are dead weight UNLESS they are all that
    // keeps a fully-wiped table readable (review r11)
    val mine = if (nonZero.nonEmpty || cleanRemainder) nonZero else raw
    val v = commitReplacing(fs, rootP, dvSignature(dvE), mine, before,
      maxRetries, tornGraceMs, refuseEmpty = !cleanRemainder,
      op = "materialize")
    if (v == -1L) (0, -1L) else (dvE.size, v)
  }

  /** Copy-on-write MERGE (upsert) keyed on `keyCols` — the Delta
    * `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` shape
    * for whole-row updates, in ONE atomic commit: files that might hold a
    * matching key (stats/partition pruning against the updates' collected
    * key sets, bounded by `maxProbeKeys`) are rewritten WITHOUT those
    * keys' rows, the updates batch is appended, and both land in the same
    * manifest version — a crash never exposes deleted-but-not-reinserted
    * keys. Returns (rowsReplaced, filesRewritten, version); -1 on the
    * usual abandonment (a concurrent rewrite replaced a touched file).
    * Updates must not introduce NEW columns (widen with [[append]]
    * first) and must carry the table's partition columns. Same isolation
    * as [[deleteWhere]]: a concurrent blind append's rows survive
    * untouched, including rows with matching keys — MERGE serializes
    * against appends at the caller when key uniqueness matters.
    * Above `maxProbeKeys` distinct keys the exact key-set probe is off,
    * but file candidacy still prunes by the update batch's per-column key
    * RANGE (min/max observed on the batch's write, no collect), so a
    * clustered bulk update rewrites its slice, not the table; only a
    * genuinely full-range key set pays the full-table join rewrite.
    */
  def upsertByKey(spark: SparkSession, root: String, updates: DataFrame,
                  keyCols: Seq[String], maxProbeKeys: Int = 10000,
                  maxRetries: Int = 10,
                  tornGraceMs: Long = 60000L,
                  txn: Option[(String, Long)] = None,
                  extraTxns: Map[String, Long] = Map.empty): (Long, Int, Long) =
    upsertFrom(spark, root,
      latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(s"no committed manifest under $root")),
      updates, keyCols, maxProbeKeys, maxRetries, tornGraceMs, txn, extraTxns)

  /** [[upsertByKey]] against an explicit base snapshot — the test seam for
    * the abandonment path (same pattern as [[compactFrom]]/[[deleteFrom]]).
    */
  private[graft] def upsertFrom(spark: SparkSession, root: String,
                                before: Snapshot, updates: DataFrame,
                                keyCols: Seq[String], maxProbeKeys: Int = 10000,
                                maxRetries: Int = 10,
                                tornGraceMs: Long = 60000L,
                                txn: Option[(String, Long)] = None,
                                extraTxns: Map[String, Long] = Map.empty): (Long, Int, Long) =
    prepareUpsert(spark, root, before, updates, keyCols, maxProbeKeys,
      maxRetries, tornGraceMs, txn, extraTxns) match {
      case Left(done) => done
      case Right(p) => upsertCowTail(spark, root, before, keyCols,
        maxRetries, tornGraceMs, p, txn, extraTxns)
    }

  /** Everything [[upsertFrom]] and [[upsertMorFrom]] share: validation,
    * the audited write of the updates batch ([[auditedWrite]]) and
    * probe-key pruning. Left = the operation already completed (empty
    * updates, or a pure insert with no candidate file — committed here);
    * Right = the matched-key tail remains.
    */
  private final case class UpsertPrep(keyRows: Option[Seq[Row]],
                                      touched: Seq[ManifestEntry],
                                      mineUpdates: Seq[ManifestEntry])

  private def prepareUpsert(spark: SparkSession, root: String,
                            before: Snapshot, updates: DataFrame,
                            keyCols: Seq[String], maxProbeKeys: Int,
                            maxRetries: Int, tornGraceMs: Long,
                            txn: Option[(String, Long)] = None,
                            extraTxns: Map[String, Long] = Map.empty)
      : Either[(Long, Int, Long), UpsertPrep] = {
    require(keyCols.nonEmpty, "upsertByKey needs at least one key column")
    val (fs, rootP) = fsFor(spark, root)
    val table = tableSchemaOf(before)
    val upd = normalizeSchema(updates.schema)
    val tableCols = table.fields.map(_.name).toSet
    val newCols = upd.fields.map(_.name).filterNot(tableCols)
    require(newCols.isEmpty,
      s"upsertByKey: updates carry new column(s) ${newCols.mkString(", ")} — " +
        "widen the table with append() first, then upsert")
    checkColumnTypes(upd, table, root,
      "an upsert cannot change a column's type — fix the updates frame")
    require(keyCols.forall(updates.columns.contains),
      s"key column(s) missing from updates: ${keyCols.filterNot(updates.columns.contains)}")
    require(before.partCols.forall(updates.columns.contains),
      s"updates must carry the table's partition columns ${before.partCols}")
    if (before.partCols.nonEmpty)
      requirePartitionable(updates, before.partCols) // incl. the ""-is-NULL-sentinel guard
    // A null key never anti-joins (NULL = NULL is not true), so it would
    // silently INSERT next to whatever it "updated"; duplicate keys would
    // insert several rows per key where MERGE promises replacement — both
    // refuse loudly (Delta MERGE errors on multi-match sources the same
    // way).
    val (mineUpdates, audit) = auditedWrite(spark, fs, rootP, root, before,
      updates, keyCols, maxProbeKeys,
      nulls => s"upsertByKey: $nulls update row(s) carry a NULL key — a null " +
        "key can never match an existing row, so it would insert instead of update",
      (n, d) => s"upsertByKey: updates hold $n rows but only $d " +
        "distinct keys — several rows per key would all be inserted where MERGE " +
        "promises one replacement; deduplicate the updates first")
      .getOrElse(return Left((0L, 0, before.version)))
    // under the cap the exact key tuples prune by per-column IN sets (a
    // SUPERSET of the key-tuple set, so pruning stays conservative for
    // multi-column keys). Past it the exact key set is too large to ship,
    // but file candidacy need not collapse to the whole table (VERDICT
    // r10 wrong-#2): a file whose stats sit wholly outside the batch's
    // observed key RANGE cannot hold a matching key. A clustered
    // 100k-key update rewrites its slice, not the table.
    val touched = prunedEntries(before, audit.keyRows match {
      case Some(ks) => keyCols.zipWithIndex.map { case (c, i) =>
        In(c, ks.map(_.get(i)).distinct.toArray)
      }
      case None => audit.ranges
    })
    if (touched.isEmpty) {
      // pure insert: no existing file can hold a matching key
      val v = commitReplacing(fs, rootP, Map.empty, mineUpdates, before,
        maxRetries, tornGraceMs, refuseEmpty = false, op = "upsert",
        txn = txn, extraTxns = extraTxns)
      return Left((0L, 0, v))
    }
    Right(UpsertPrep(audit.keyRows, touched, mineUpdates))
  }

  /** What the merge audit learned from the updates batch's write: the
    * distinct key tuples when there are at most `maxProbeKeys` of them
    * (None past the cap), and each key column's observed min/max as range
    * filters (the over-cap pruning).
    */
  private final case class KeyAudit(keyRows: Option[Seq[Row]], ranges: Seq[Filter])

  /** Write `updates` as a new batch with the MERGE audit riding the same
    * write: a `Dataset.observe` on the batch computes its row count, its
    * NULL-key rows, each key column's min/max and its distinct key tuples
    * ([[KeyTuples]], capped at `maxProbeKeys + 1`), so the audit checks
    * the very rows written and costs no pass of its own. Only an over-cap
    * batch needs one more pass: its exact distinct-key count, read back
    * from the written files. A refused audit deletes the batch directory
    * and throws `nullKeys` / `dupKeys`, like a constraint refusal; an
    * empty batch is deleted too and returns None (nothing to commit).
    * The metrics are awaited only after the write returned normally — on
    * a failed write they never arrive.
    */
  private def auditedWrite(spark: SparkSession, fs: FileSystem, rootP: Path,
                           root: String, before: Snapshot, updates: DataFrame,
                           keyCols: Seq[String], maxProbeKeys: Int,
                           nullKeys: Long => String, dupKeys: (Long, Long) => String)
      : Option[(Seq[ManifestEntry], KeyAudit)] = {
    val F = org.apache.spark.sql.functions
    val keyExprs = keyCols.map(c => col(quoteIdent(c)))
    val table = tableSchemaOf(before)
    val keySchema = StructType(keyCols.map(c => table(c).copy(nullable = true)))
    val keyTuples = F.udaf(new KeyTuples(maxProbeKeys, keySchema),
      org.apache.spark.sql.Encoders.row(keySchema))
    val aggs = Seq(F.count(lit(1)).as("n"),
      F.count(F.when(keyExprs.map(_.isNull).reduce(_ || _), lit(1))).as("nullkeys"),
      keyTuples(keyExprs: _*).as("keys")) ++
      keyExprs.zipWithIndex.flatMap { case (e, i) =>
        Seq(F.min(e).as(s"min$i"), F.max(e).as(s"max$i")) }
    val name = s"graft-merge-audit-${UUID.randomUUID()}"
    var audit: Option[KeyAudit] = None
    val written = ObservedWrites.around(updates.sparkSession, name) { metrics =>
      writeBatch(fs, rootP, updates.observe(name, aggs.head, aggs.tail: _*),
        before.partCols, colMap = before.colMap, constraints = before.constraints,
        audit = { entries =>
          val m = metrics()
          val n = m.getAs[Long]("n")
          if (n > 0L) {
            val nulls = m.getAs[Long]("nullkeys")
            require(nulls == 0L, nullKeys(nulls))
            val tuples = m.getAs[Row]("keys").getSeq[Row](0)
            val overCap = tuples.size > maxProbeKeys
            val distinct =
              if (!overCap) tuples.size.toLong
              else batchFrame(spark, root, before, entries).select(keyExprs: _*)
                .distinct().count()
            require(distinct == n, dupKeys(n, distinct))
            audit = Some(KeyAudit(if (overCap) None else Some(tuples),
              keyCols.zipWithIndex.flatMap { case (c, i) =>
                Seq(GreaterThanOrEqual(c, m.getAs[Any](s"min$i")),
                  LessThanOrEqual(c, m.getAs[Any](s"max$i")))
              }))
          }
          audit.isDefined
        })
    }
    audit.map(written -> _)
  }

  /** The observed metrics of audited writes, delivered by name through
    * the session's query-execution listener bus. Not `Observation`: it
    * parks a non-serializable `ObservationManager` in a non-transient
    * field of the session, and from then on any closure that captures
    * the session (an MLlib model's training summary does) fails with
    * "Task not serializable". `around` registers the listener for one
    * write; `metrics()` waits for that write's row — call it only after
    * the write returned normally, since a failed write delivers none.
    */
  private object ObservedWrites extends org.apache.spark.sql.util.QueryExecutionListener {
    private val pending = new java.util.concurrent.ConcurrentHashMap[
      String, scala.concurrent.Promise[Row]]()
    // a bound on the listener bus's delivery, not on the write
    private val DeliveryTimeout = scala.concurrent.duration.Duration(10, "min")

    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        Option(pending.get(name)).foreach(_.trySuccess(row))
      }

    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()

    def around[T](session: SparkSession, name: String)(write: (() => Row) => T): T = {
      val promise = scala.concurrent.Promise[Row]()
      pending.put(name, promise)
      session.listenerManager.register(this)
      try write(() =>
        try scala.concurrent.Await.result(promise.future, DeliveryTimeout)
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"the audit metrics of write $name did not " +
            s"arrive within $DeliveryTimeout — the write was refused; no version was committed")
        })
      finally {
        session.listenerManager.unregister(this)
        pending.remove(name)
      }
    }
  }

  /** The exact key match of an upsert or apply over a scan of the table:
    * under the probe cap an `isin` over the collected key tuples (on
    * `struct(keyCols)` for a multi-column key) — no join, nothing to
    * broadcast. NULL on a NULL key, like the join it replaces: callers
    * decide what NULL means.
    */
  private def keyIn(table: StructType, keyCols: Seq[String], keyRows: Seq[Row]): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.ColumnShim
    val keySchema = StructType(keyCols.map(c => table(c)))
    if (keyCols.size == 1)
      col(quoteIdent(keyCols.head)).isin(keyRows.map(r =>
        ColumnShim.column(Literal.create(r.get(0), keySchema.head.dataType))): _*)
    else
      struct(keyCols.map(c => col(quoteIdent(c))): _*).isin(keyRows.map(r =>
        ColumnShim.column(Literal.create(r, keySchema))): _*)
  }

  /** The written batch of an audited write, as the table reads it. */
  private def batchFrame(spark: SparkSession, root: String, before: Snapshot,
                         batch: Seq[ManifestEntry]): DataFrame =
    snapshotFrame(spark, root, before.copy(files = batch), Seq.empty, keepIdentity = false)

  /** (fkey, pos) of the live rows of `touched` whose key matches: the
    * `isin` predicate under the probe cap (`keyRows`), a semi join
    * against `keysOverCap` past it. The join's shuffle scatters a file's
    * rows across tasks, so its positions are regrouped by file for
    * [[writeDvAndTag]]; the predicate keeps the scan's one-task-per-file
    * layout.
    */
  private def matchedPositions(spark: SparkSession, root: String, before: Snapshot,
                               touched: Seq[ManifestEntry], keyCols: Seq[String],
                               keyRows: Option[Seq[Row]], keysOverCap: => DataFrame)
      : DataFrame = {
    val rows = snapshotFrame(spark, root, before.copy(files = touched),
      Seq.empty, keepIdentity = true)
    val matched = keyRows match {
      case Some(ks) => rows.where(keyIn(tableSchemaOf(before), keyCols, ks))
      case None => rows.join(keysOverCap, keyCols, "left_semi").repartition(col(FkeyCol))
    }
    matched.select(col(FkeyCol).as("fkey"), col(PosCol).as("pos"))
  }

  private def upsertCowTail(spark: SparkSession, root: String,
                            before: Snapshot, keyCols: Seq[String],
                            maxRetries: Int, tornGraceMs: Long,
                            p: UpsertPrep,
                            txn: Option[(String, Long)],
                            extraTxns: Map[String, Long]): (Long, Int, Long) = {
    val (fs, rootP) = fsFor(spark, root)
    val touchedRows = readSnapshot(spark, root, before.copy(files = p.touched), Seq.empty)
    // the anti side keeps NULL-key rows, as the anti join does
    val surviving = p.keyRows match {
      case Some(ks) => touchedRows.where(
        coalesce(not(keyIn(tableSchemaOf(before), keyCols, ks)), lit(true)))
      case None => touchedRows.join(batchFrame(spark, root, before, p.mineUpdates)
        .select(keyCols.map(c => col(quoteIdent(c))): _*), keyCols, "left_anti")
    }
    // zero-row rewrite files (a fully-replaced unpartitioned slice leaves
    // a schema-only part file) are dead weight here — mineUpdates already
    // keeps the manifest non-empty
    val mineRewrite = writeBatch(fs, rootP, surviving, before.partCols,
        internalRewrite = true, colMap = before.colMap)
      .filterNot(_.rows == 0L)
    val replaced = p.touched.map(liveRowsOf).sum - mineRewrite.map(_.rows).sum
    val v = commitReplacing(fs, rootP, dvSignature(p.touched),
      mineRewrite ++ p.mineUpdates, before, maxRetries, tornGraceMs,
      refuseEmpty = true, op = "upsert", txn = txn, extraTxns = extraTxns)
    if (v == -1L) (0L, 0, -1L) else (replaced, p.touched.size, v)
  }

  /** MERGE-ON-READ upsert (r11): the [[upsertByKey]] contract — matched
    * keys' rows replaced, unmatched inserted, ONE atomic version — with
    * the replacement expressed as DELETION VECTORS instead of a rewrite:
    * matched rows' positions land in per-file dv parquets and the updates
    * batch appends, so the operation costs O(matched rows + update bytes)
    * while every touched data file keeps byte identity. The natural shape
    * for high-churn dimension updates against a huge clustered table.
    * Same audit (NULL/duplicate keys refuse), same pruning (probe keys /
    * over-cap key ranges), same isolation caveats as [[upsertByKey]];
    * same dv trade-offs as [[deleteWhereMergeOnRead]] (format read
    * refuses until materialization, readAddedSince refuses across the
    * change). Under the probe cap it runs two SQL executions of one job
    * each: the audited updates write and the dv step. Returns
    * (rowsReplaced, filesTagged, version); -1 on abandonment.
    */
  def upsertByKeyMergeOnRead(spark: SparkSession, root: String,
                             updates: DataFrame, keyCols: Seq[String],
                             maxProbeKeys: Int = 10000, maxRetries: Int = 10,
                             tornGraceMs: Long = 60000L,
                             autoMaterializeFraction: Option[Double] = None)
      : (Long, Int, Long) = {
    val r = upsertMorFrom(spark, root,
      latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(s"no committed manifest under $root")),
      updates, keyCols, maxProbeKeys, maxRetries, tornGraceMs)
    autoMaterialize(spark, root, r._3, autoMaterializeFraction, maxRetries, tornGraceMs)
    r
  }

  private[graft] def upsertMorFrom(spark: SparkSession, root: String,
                                   before: Snapshot, updates: DataFrame,
                                   keyCols: Seq[String], maxProbeKeys: Int = 10000,
                                   maxRetries: Int = 10,
                                   tornGraceMs: Long = 60000L): (Long, Int, Long) =
    prepareUpsert(spark, root, before, updates, keyCols, maxProbeKeys,
      maxRetries, tornGraceMs) match {
      case Left(done) => done
      case Right(p) =>
        val (fs, rootP) = fsFor(spark, root)
        // the matched live rows' positions — replaced rows never rewrite
        val del = matchedPositions(spark, root, before, p.touched, keyCols, p.keyRows,
          batchFrame(spark, root, before, p.mineUpdates)
            .select(keyCols.map(c => col(quoteIdent(c))): _*))
        writeDvAndTag(spark, rootP, root, p.touched, del) match {
          case None => // no existing row matched: a pure insert after all
            val v = commitReplacing(fs, rootP, Map.empty, p.mineUpdates,
              before, maxRetries, tornGraceMs, refuseEmpty = false,
              op = "mor-upsert")
            (0L, 0, v)
          case Some((tagged, replacedSig, replaced)) =>
            val v = commitReplacing(fs, rootP, replacedSig,
              tagged ++ p.mineUpdates, before, maxRetries, tornGraceMs,
              refuseEmpty = false, op = "mor-upsert")
            if (v == -1L) (0L, 0, -1L) else (replaced, tagged.size, v)
        }
    }

  /** CDC APPLY (r13): ONE merge-on-read commit that both REPLACES
    * `upserts`' keys' rows and REMOVES `deleteKeys`' rows — the
    * replication primitive ([[Materialized.replicate]] folds a versioned
    * change feed through it). Mechanics are [[upsertByKeyMergeOnRead]]'s
    * with the dv side keyed on the UNION of both key sets: the upserts
    * write through the same audit ([[auditedWrite]]), only `deleteKeys`
    * is collected, and affected files are pruned by the keys (In-sets up
    * to `maxProbeKeys`; above the cap candidacy degrades to every file),
    * matched live rows become deletion-vector positions, and everything
    * lands in one op=mor-upsert version whose optional `txn` watermark
    * makes redelivery a no-op INSIDE the commit. Returns (rowsRemoved,
    * filesTagged, version); -1 is either abandonment (a concurrent
    * rewrite superseded a touched file) or the idempotent replay —
    * disambiguate via the destination's watermark, exactly like
    * [[Materialized]]'s merge. NULL delete keys match nothing (SQL
    * semantics) and are ignored; `upserts` must be key-unique and
    * NULL-key-free (the MERGE audit). Empty `upserts` commit no data file.
    */
  def applyByKeyMergeOnRead(spark: SparkSession, root: String,
                            upserts: DataFrame, deleteKeys: DataFrame,
                            keyCols: Seq[String], maxProbeKeys: Int = 10000,
                            maxRetries: Int = 10, tornGraceMs: Long = 60000L,
                            txn: Option[(String, Long)] = None,
                            extraTxns: Map[String, Long] = Map.empty): (Long, Int, Long) = {
    require(keyCols.nonEmpty, "applyByKeyMergeOnRead needs at least one key column")
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    val (fs, rootP) = fsFor(spark, root)
    val table = tableSchemaOf(before)
    val upd = normalizeSchema(upserts.schema)
    val tableCols = table.fields.map(_.name).toSet
    val newCols = upd.fields.map(_.name).filterNot(tableCols)
    require(newCols.isEmpty,
      s"apply: upserts carry new column(s) ${newCols.mkString(", ")} — widen " +
        "the table with append() first")
    checkColumnTypes(upd, table, root,
      "an apply cannot change a column's type — fix the upserts frame")
    require(keyCols.forall(upserts.columns.contains),
      s"key column(s) missing from upserts: ${keyCols.filterNot(upserts.columns.contains)}")
    require(keyCols.forall(deleteKeys.columns.contains),
      s"key column(s) missing from deleteKeys: ${keyCols.filterNot(deleteKeys.columns.contains)}")
    require(before.partCols.forall(upserts.columns.contains),
      s"upserts must carry the table's partition columns ${before.partCols}")
    if (before.partCols.nonEmpty) requirePartitionable(upserts, before.partCols)
    val keyExprs = keyCols.map(c => col(quoteIdent(c)))
    val written = auditedWrite(spark, fs, rootP, root, before, upserts, keyCols,
      maxProbeKeys,
      nulls => s"apply: $nulls upsert row(s) carry a NULL key",
      (n, d) => s"apply: upserts hold $n rows but only $d " +
        "distinct keys — deduplicate first (one replacement per key)")
    val mineUpdates = written.map(_._1).getOrElse(Seq.empty)
    val delK = deleteKeys.select(keyExprs: _*)
      .where(keyExprs.map(_.isNotNull).reduce(_ && _)).distinct()
    val delRows = delK.limit(maxProbeKeys + 1).collect().toSeq
    if (written.isEmpty && delRows.isEmpty) return (0L, 0, before.version)
    // the exact key set of both sides, None past the probe cap
    val keyRows: Option[Seq[Row]] = written match {
      case Some((_, KeyAudit(None, _))) => None
      case _ =>
        val all = written.flatMap(_._2.keyRows).getOrElse(Seq.empty) ++ delRows
        if (all.distinct.length > maxProbeKeys) None else Some(all)
    }
    val touched = keyRows match {
      case None => before.files
      case Some(ks) => prunedEntries(before, keyCols.zipWithIndex.map { case (c, i) =>
        In(c, ks.map(_.get(i)).distinct.toArray)
      })
    }
    def pureInsert(): (Long, Int, Long) =
      if (mineUpdates.isEmpty) (0L, 0, before.version) // full no-op
      else (0L, 0, commitReplacing(fs, rootP, Map.empty, mineUpdates, before,
        maxRetries, tornGraceMs, refuseEmpty = false, op = "mor-upsert",
        txn = txn, extraTxns = extraTxns))
    if (touched.isEmpty) return pureInsert() // nothing to remove
    val del = matchedPositions(spark, root, before, touched, keyCols, keyRows,
      if (mineUpdates.isEmpty) delK
      else batchFrame(spark, root, before, mineUpdates).select(keyExprs: _*).unionByName(delK))
    writeDvAndTag(spark, rootP, root, touched, del) match {
      case None => pureInsert() // no existing row matched any key
      case Some((tagged, replacedSig, removed)) =>
        val v = commitReplacing(fs, rootP, replacedSig, tagged ++ mineUpdates,
          before, maxRetries, tornGraceMs, refuseEmpty = false,
          op = "mor-upsert", txn = txn, extraTxns = extraTxns)
        if (v == -1L) (0L, 0, -1L) else (removed, tagged.size, v)
    }
  }

  /** The file-replacement rebase commit shared by [[compactFrom]],
    * [[deleteFrom]] and [[upsertFrom]] — the store's most delicate
    * concurrency logic kept in ONE place: abandon (None → -1) when any replaced input is no longer
    * present in the rebased base (a concurrent rewrite already superseded
    * it — committing our copy could duplicate or resurrect rows), else
    * swap exactly the replaced paths for `mine`, carrying txn watermarks,
    * schema and partition columns forward.
    *
    * ISOLATION (documented, Delta-WriteSerializable-like): a concurrent
    * blind APPEND rebases in untouched — its files are kept, not
    * re-scanned — so rows it added that would have matched a racing
    * delete's predicate SURVIVE that delete. Callers needing
    * every-row-as-of-commit semantics (compliance erasure) opt in via
    * [[deleteWhereSerializable]] (or TBLPROPERTIES
    * 'graft.isolation' = 'serializable' for SQL DELETE), which loops
    * this same commit path until a quiescent pass — r15, no longer a
    * hand-rolled caller loop.
    */
  /** `rewrote` maps each replaced input path to the DELETION-VECTOR path
    * the operation READ it under (None = no dv). Abandonment fires when a
    * path is gone from the rebased base (a concurrent rewrite superseded
    * it) OR when its dv changed (r11): a merge-on-read delete keeps the
    * path but changes the file's MEANING, and committing a rewrite of the
    * pre-delete content would resurrect the deleted rows.
    */
  /** `extraTxns` (r14): additional watermarks carried ATOMICALLY with
    * the commit but NOT consulted for idempotence — multi-source
    * maintainers (the joined IVM view) record each source's version under
    * its own key while `txn` alone guards replay.
    */
  private def commitReplacing(fs: FileSystem, root: Path,
                              rewrote: Map[String, Option[String]],
                              mine: Seq[ManifestEntry], before: Snapshot,
                              maxRetries: Int, tornGraceMs: Long,
                              refuseEmpty: Boolean, op: String,
                              txn: Option[(String, Long)] = None,
                              extraTxns: Map[String, Long] = Map.empty): Long =
    commitWithRebase(fs, root, maxRetries, tornGraceMs) { base =>
      val baseFiles = base.map(_.files).getOrElse(Seq.empty)
      val baseTxns = base.map(_.txns).getOrElse(Map.empty)
      val baseDv: Map[String, Option[String]] =
        baseFiles.map(f => f.path -> f.dv.map(_.path)).toMap
      if (rewrote.exists { case (p, dvp) => !baseDv.get(p).contains(dvp) })
        None // inputs already replaced, or their deletion vector moved
      else if (txn.exists { case (a, b) => baseTxns.getOrElse(a, -1L) >= b })
        None // this (appId, batchId) already committed: idempotent retry
      else {
        // order the snapshot exactly as a cold delta-chain resolution
        // reconstructs it (advice r13): applyChain's LinkedHashMap replaces
        // same-path entries IN PLACE — so a merge-on-read's dv-tagged
        // entries must keep their base position here too (the committer
        // seeds the snapshot cache with this list; a trailing-`mine` order
        // would diverge from what every other resolver sees). Genuinely
        // new paths append in commit order, replaced-without-successor
        // paths drop.
        val mineByPath = mine.iterator.map(e => e.path -> e).toMap
        val basePaths = baseFiles.iterator.map(_.path).toSet
        val appended = mine.filterNot(e => basePaths(e.path))
        val files = baseFiles.flatMap { f =>
          mineByPath.get(f.path) match {
            case Some(repl) => Some(repl) // same-path successor: in place
            case None => if (rewrote.contains(f.path)) None else Some(f)
          }
        } ++ appended
        if (refuseEmpty) require(files.nonEmpty,
          s"this rewrite would leave $root with no files — an empty manifest is " +
            "unreadable by contract; drop the table (or keep a sentinel row) instead")
        Some(Snapshot(0L, files,
          baseTxns ++ extraTxns ++ txn,
          base.flatMap(_.schema).orElse(before.schema),
          base.map(_.partCols).getOrElse(before.partCols), op = op,
          colMap = base.map(_.colMap).getOrElse(before.colMap),
          droppedPhys = base.map(_.droppedPhys).getOrElse(before.droppedPhys),
          constraints = base.map(_.constraints).getOrElse(before.constraints),
          properties = base.map(_.properties).getOrElse(before.properties),
          bloomIdx = base.flatMap(_.bloomIdx).orElse(before.bloomIdx)))
      }
    }

  /** The `rewrote` argument of [[commitReplacing]] for a set of inputs. */
  private def dvSignature(entries: Seq[ManifestEntry]): Map[String, Option[String]] =
    entries.map(e => e.path -> e.dv.map(_.path)).toMap

  /** Widen the table with new NULLABLE columns in one metadata-only
    * commit (r14 — the `ALTER TABLE ... ADD COLUMNS` shape): existing
    * files null-fill them on read, exactly like the append-time widening
    * this formalizes. Refuses non-nullable fields (old rows have no value
    * to give), name collisions (logical), and — on mapped tables —
    * collisions with a physical name in use or retired (the old files
    * would serve orphaned bytes as the new column).
    */
  def addColumns(spark: SparkSession, root: String,
                 fields: Seq[StructField],
                 maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    require(fields.nonEmpty, "addColumns with no columns")
    fields.foreach { f =>
      requireColumnName(f.name, "new column name")
      require(f.nullable,
        s"new column ${f.name} must be nullable — existing rows null-fill it")
    }
    require(fields.map(_.name).distinct.size == fields.size,
      s"duplicate new column names: ${fields.map(_.name)}")
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      val schema = tableSchemaOf(base)
      val dup = fields.map(_.name).filter(schema.fieldNames.contains)
      require(dup.isEmpty, s"column(s) ${dup.mkString(", ")} already exist under $root")
      val taken = base.physicalNames
      val bad = fields.map(_.name).filter(taken)
      require(bad.isEmpty,
        s"new column(s) ${bad.mkString(", ")} collide with a PHYSICAL column " +
          s"name in use or dropped under $root — old files already carry " +
          "data under that name; choose a different name")
      Some(base.copy(version = 0L,
        schema = Some(StructType(schema.fields ++ fields)),
        op = "add-columns", addedBytes = None))
    }
  }

  /** RESTORE the table's LIVE state to that of an earlier version (r14 —
    * the Delta RESTORE shape): one commit (op=restore) whose file list,
    * schema, partition columns and column mapping are exactly version
    * `v`'s — time travel made durable, without touching a data byte (the
    * restored files still exist on disk because manifest retention and
    * data retention agree: a resolvable version's data is live, verified
    * here per batch directory anyway in case a pre-r14 vacuum ran).
    * Txn watermarks are KEPT from the current state — a restore must
    * never regress an exactly-once stream's resume point. Restore is a
    * DATA-CHANGING rewrite by nature (files leave the live set), so
    * change feeds and tails refuse across it, exactly like a CoW delete:
    * consumers reprocess from a full snapshot.
    *
    * CONCURRENCY (the Delta RESTORE posture): restore is declarative —
    * it commits the target state wholesale, so a write racing it is
    * superseded in the live view the moment the restore lands (its rows
    * stay time-travelable at its own version until vacuum; nothing is
    * lost, only un-lived). Callers needing to keep racing appends must
    * serialize them against the restore. Returns the new version.
    */
  def restore(spark: SparkSession, root: String, v: Long,
              maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val target = readManifest(fs, rootP, v).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no intact manifest v$v under $root — cannot restore to it"))
    require(target.files.nonEmpty,
      s"version $v under $root references no files — nothing to restore")
    // per-batch-directory existence probe (grouped: O(batches), not
    // O(files)) — a pre-r14 vacuum may have dropped a resolvable
    // version's data; restoring dangling references must refuse here,
    // not surface as FileNotFoundException mid-scan later
    val missing = target.files
      .flatMap(f => Option(new Path(f.path).getParent)).distinct
      .filterNot(fs.exists)
    require(missing.isEmpty,
      s"cannot restore $root to v$v — ${missing.size} referenced batch " +
        s"director${if (missing.size == 1) "y is" else "ies are"} gone " +
        s"(vacuumed): ${missing.take(3).mkString(", ")}")
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      requireSameTable(root, target, base)
      Some(target.copy(version = 0L,
        txns = base.txns, // never regress an exactly-once resume point
        op = "restore", addedBytes = None))
    }
  }

  // ---- column mapping (r14, VERDICT r13 #2) ---------------------------
  // RENAME/DROP COLUMN as METADATA-ONLY commits: files bind columns by
  // PHYSICAL name (assigned at column birth, never changed), the manifest
  // carries the logical schema plus a logical→physical map, and the read
  // path rewrites reader schemas/filters per file (MappedParquetFileFormat
  // — the Delta column-mapping architecture). A 100 TB schema refactor is
  // one O(bytes-of-one-manifest) commit, not a table rewrite. Tables that
  // carry a mapping write format v3, so pre-r14 readers refuse them loudly
  // instead of serving physical columns under stale logical names.

  private def requireColumnName(n: String, what: String): Unit = {
    require(n.nonEmpty, s"$what must be non-empty")
    require(!n.contains('.'),
      s"$what '$n' contains '.' — indistinguishable from a nested path in " +
        "parquet addressing (same rule as the write-side guard)")
    require(!n.contains('\n') && !n.contains('\t') && !n.contains(','),
      s"$what not manifest-safe: '$n'")
  }

  /** Rename a column WITHOUT rewriting a byte of data. One metadata-only
    * commit (op=rename-column): the logical schema field moves to
    * `newName`, the logical→physical map re-points it at the column's
    * unchanged physical name. Old versions time-travel with their own
    * names; pushed filters, stats pruning and partition lookup all map
    * through the snapshot. Renaming a partition column is allowed —
    * the hive directory layout keeps the physical name, which the
    * manifest (never directory parsing) resolves.
    */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String,
                   maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    require(oldName != newName, s"rename to the same name: $oldName")
    requireColumnName(newName, "new column name")
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      val schema = tableSchemaOf(base)
      require(schema.fieldNames.contains(oldName),
        s"no column '$oldName' under $root (have ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists under $root")
      val physName = base.physOf(oldName)
      val newMap0 = base.colMap - oldName
      val newMap = if (newName == physName) newMap0
                   else newMap0 + (newName -> physName)
      // constraints SURVIVE the rename: targets/expressions speak logical
      // names, so the rename rewrites them in the same commit — NOT NULL
      // re-targets, CHECK expressions re-render with the attribute renamed
      val newConstraints = base.constraints.map { c =>
        if (!constraintReferences(spark, c, oldName)) c
        else c.kind match {
          case "notnull" => c.copy(
            name = if (c.name == s"notnull_$oldName") s"notnull_$newName" else c.name,
            target = newName)
          case _ => c.copy(target = renameInExpr(spark, c.target, oldName, newName))
        }
      }
      Some(base.copy(version = 0L,
        schema = Some(StructType(schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))),
        partCols = base.partCols.map(c => if (c == oldName) newName else c),
        colMap = newMap, constraints = newConstraints,
        op = "rename-column", addedBytes = None))
    }
  }

  /** Drop a column WITHOUT rewriting a byte of data. One metadata-only
    * commit (op=drop-column): the field leaves the logical schema, its
    * physical name is recorded as RETIRED — scans simply never request it,
    * and a later widening append may not reuse the name (the old files
    * still carry the orphaned data; reusing it would resurrect those
    * values as the new column's). The bytes stay until files are rewritten
    * by normal maintenance (compact materializes the current schema).
    * Partition columns refuse (layout and pruning are keyed on them —
    * rewrite the table instead), as does dropping the last column.
    */
  def dropColumn(spark: SparkSession, root: String, name: String,
                 maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      val schema = tableSchemaOf(base)
      require(schema.fieldNames.contains(name),
        s"no column '$name' under $root (have ${schema.fieldNames.mkString(", ")})")
      require(!base.partCols.contains(name),
        s"cannot drop partition column '$name' — the file layout and pruning " +
          "are keyed on it; rewrite the table under a new layout instead")
      require(schema.fields.length > 1,
        s"cannot drop the last column of $root — drop the table instead")
      val phys = base.physOf(name)
      val referencedBy = base.constraints.filter(c => constraintReferences(spark, c, name))
      require(referencedBy.isEmpty,
        s"cannot drop column '$name' — referenced by constraint(s) " +
          s"${referencedBy.map(_.name).mkString(", ")}; drop them first")
      Some(base.copy(version = 0L,
        schema = Some(StructType(schema.fields.filterNot(_.name == name))),
        colMap = base.colMap - name,
        droppedPhys = (base.droppedPhys :+ phys).distinct,
        op = "drop-column", addedBytes = None))
    }
  }

  /** Lossless type widenings `ALTER COLUMN ... TYPE` accepts: Spark's
    * parquet readers (vectorized AND row-based, probed on 4.1) serve a
    * file written narrow under the wider requested type natively, so the
    * widen is ONE metadata-only schema commit — old files read under
    * promotion, new batches arrive wide, no byte is rewritten. long→
    * double is deliberately absent (lossy past 2^53), as is decimal
    * scale-up (parquet FIXED_LEN_BYTE_ARRAY width changes with
    * precision — a widened read refuses at the chunk level).
    */
  private val Widenings: Map[DataType, Set[DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set(ShortType, IntegerType, LongType, DoubleType),
      ShortType -> Set(IntegerType, LongType, DoubleType),
      IntegerType -> Set(LongType, DoubleType),
      FloatType -> Set(DoubleType))
  }

  /** Widen a column's type WITHOUT rewriting a byte (r15, VERDICT r14 #2
    * — the `ALTER TABLE ... ALTER COLUMN ... TYPE` shape): one
    * metadata-only commit (op=widen-column) records the new logical type;
    * existing files keep their narrow physical type and every reader
    * serves them under parquet's native type promotion. Only the lossless
    * matrix in [[Widenings]] is accepted — narrowing and reinterpreting
    * changes refuse loudly. Stats pruning survives: integral widenings
    * stay in the canonical "long" stats domain (float→double in
    * "double"); an int→double widen leaves old files' "long"-tagged
    * stats unrenderable against double literals, which degrades to
    * keep-the-file — conservative, never wrong. Time travel replays old
    * versions under their own narrower schema. Partition columns refuse
    * (their values round-trip through hive directory strings typed by
    * the schema — widening them would re-key the layout).
    */
  def alterColumnType(spark: SparkSession, root: String, name: String,
                      newType: DataType,
                      maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      val schema = tableSchemaOf(base)
      val field = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' under $root (have ${schema.fieldNames.mkString(", ")})"))
      require(!base.partCols.contains(name),
        s"cannot widen partition column '$name' — partition values are " +
          "directory-keyed by the schema type; rewrite the table instead")
      require(field.dataType != newType,
        s"column '$name' already has type ${newType.simpleString}")
      require(Widenings.get(field.dataType).exists(_.contains(newType)),
        s"cannot change column '$name' from ${field.dataType.simpleString} to " +
          s"${newType.simpleString} — only lossless widenings are supported " +
          "(byte/short/int up the integral chain, int→double, float→double); " +
          "anything else would reinterpret or truncate stored bytes")
      Some(base.copy(version = 0L,
        schema = Some(StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = newType) else f))),
        op = "widen-column", addedBytes = None))
    }
  }

  // ---- write-path constraints (r15, VERDICT r14 #1) -------------------
  // NOT NULL and CHECK as manifest-carried invariants (the Delta
  // constraints shape): one metadata-only commit records the rule, and
  // EVERY seam that lands new or modified row values (append, streaming
  // append, CoW/MoR upsert, MoR update, SQL INSERT — all flow through
  // writeBatch) enforces it inside the write pass, refusing the whole
  // commit with the first offending row rendered. Adding a constraint
  // validates EXISTING data first; a commit racing the validation is
  // re-validated delta-only inside the rebase closure, so no violating
  // row can slip between check and commit.

  /** True iff `c` references logical column `colName` (case-insensitive,
    * Spark's resolution rule): the NOT NULL target, or any top-level
    * attribute of the CHECK expression.
    */
  private def constraintReferences(spark: SparkSession, c: Constraint,
                                   colName: String): Boolean = c.kind match {
    case "notnull" => c.target.equalsIgnoreCase(colName)
    case _ => checkExprAttrs(spark, c.target).exists(_.equalsIgnoreCase(colName))
  }

  /** Top-level attribute names a CHECK expression references. */
  private def checkExprAttrs(spark: SparkSession, exprText: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(exprText).collect {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => a.nameParts.head
    }
  }

  /** Re-render a CHECK expression with every reference to `oldName`
    * renamed to `newName` — parse, transform the attribute, and emit the
    * expression's canonical SQL (never string surgery: `price` inside a
    * literal or another identifier must not be touched).
    */
  private def renameInExpr(spark: SparkSession, exprText: String,
                           oldName: String, newName: String): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val out = spark.sessionState.sqlParser.parseExpression(exprText).transform {
      case a: UnresolvedAttribute
          if a.nameParts.size == 1 && a.nameParts.head.equalsIgnoreCase(oldName) =>
        UnresolvedAttribute(Seq(newName))
    }.sql
    requireSafe(out, "renamed constraint expression")
    out
  }

  /** First live row violating `c`, rendered as JSON — None when the data
    * under `files` satisfies the constraint. Scans only `files` (the
    * caller passes the whole table at ADD time, and just the
    * raced-in-delta at rebase re-validation).
    */
  private def firstViolation(spark: SparkSession, root: String, snap: Snapshot,
                             c: Constraint): Option[String] = {
    if (snap.files.isEmpty) return None
    val live = readSnapshot(spark, root, snap, Seq.empty)
    val violated = c.kind match {
      case "notnull" =>
        if (!live.columns.exists(_.equalsIgnoreCase(c.target))) lit(true)
        else col(quoteIdent(c.target)).isNull
      case _ => not(coalesce(checkExprColumn(live, c.target), lit(true)))
    }
    live.where(coalesce(violated, lit(false)))
      .select(to_json(struct(live.columns.map(n => col(quoteIdent(n))).toIndexedSeq: _*)))
      .limit(1).collect().headOption.map(_.getString(0))
  }

  /** Add a CHECK constraint in one metadata-only commit (op =
    * add-constraint), after validating every EXISTING live row satisfies
    * it — a violating table refuses with the first offending row. The
    * expression is SQL over logical column names; every referenced
    * column must exist (a typo would otherwise silently pass all rows).
    * Names are unique across both constraint kinds.
    */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, expr: String,
                         maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    requireSafe(name, "constraint name"); requireSafe(expr, "constraint expression")
    require(name.nonEmpty && expr.nonEmpty, "constraint name/expression must be non-empty")
    val attrs = checkExprAttrs(spark, expr) // also proves the expr parses
    addConstraint(spark, root, Constraint(name, "check", expr), attrs,
      maxRetries, tornGraceMs)
  }

  /** Declare a column NOT NULL in one metadata-only commit, after
    * validating no existing live row is null there (the
    * `ALTER TABLE ... ALTER COLUMN ... SET NOT NULL` shape). Every later
    * write must include the column with non-null values — a batch
    * OMITTING it refuses up front (omitted columns null-fill, which is
    * the violation).
    */
  def setNotNull(spark: SparkSession, root: String, column: String,
                 maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long =
    addConstraint(spark, root, Constraint(s"notnull_$column", "notnull", column),
      Seq(column), maxRetries, tornGraceMs)

  private def addConstraint(spark: SparkSession, root: String, c: Constraint,
                            referenced: Seq[String],
                            maxRetries: Int, tornGraceMs: Long): Long = {
    val (fs, rootP) = fsFor(spark, root)
    val pre = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    val table = tableSchemaOf(pre)
    referenced.foreach(a => require(table.fieldNames.exists(_.equalsIgnoreCase(a)),
      s"constraint ${c.name} references column '$a', which is not in the " +
        s"table under $root (have ${table.fieldNames.mkString(", ")})"))
    firstViolation(spark, root, pre, c).foreach(row => throw new IllegalStateException(
      s"cannot add ${c.describe} (name=${c.name}) to $root — existing data " +
        s"violates it, e.g. $row"))
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      require(!base.constraints.exists(_.name == c.name),
        s"a constraint named ${c.name} already exists under $root")
      // rows appended between the validation snapshot and THIS commit base
      // were admitted under the old constraint set — re-validate just that
      // delta (O(raced-in files), not the table)
      val validatedPaths = pre.files.iterator.map(_.path).toSet
      val racedIn = base.files.filterNot(f => validatedPaths(f.path))
      if (racedIn.nonEmpty)
        firstViolation(spark, root, base.copy(files = racedIn), c)
          .foreach(row => throw new IllegalStateException(
            s"cannot add ${c.describe} (name=${c.name}) to $root — a row " +
              s"appended concurrently violates it: $row"))
      Some(base.copy(version = 0L, constraints = base.constraints :+ c,
        op = "add-constraint", addedBytes = None))
    }
  }

  /** Drop a constraint by name (NOT NULL constraints are named
    * `notnull_<column>`). One metadata-only commit (op=drop-constraint).
    */
  def dropConstraint(spark: SparkSession, root: String, name: String,
                     maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      require(base.constraints.exists(_.name == name),
        s"no constraint named $name under $root (have " +
          s"${base.constraints.map(_.name).mkString(", ")})")
      Some(base.copy(version = 0L,
        constraints = base.constraints.filterNot(_.name == name),
        op = "drop-constraint", addedBytes = None))
    }
  }

  /** `ALTER COLUMN column DROP NOT NULL`. */
  def dropNotNull(spark: SparkSession, root: String, column: String,
                  maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long =
    dropConstraint(spark, root, s"notnull_$column", maxRetries, tornGraceMs)

  // ---- table properties (r15, VERDICT r14 #5) --------------------------

  /** Merge `props` into the table's properties in one metadata-only
    * commit (the `ALTER TABLE ... SET TBLPROPERTIES` shape). Keys/values
    * are opaque user metadata; the manifest stores them verbatim.
    */
  def setProperties(spark: SparkSession, root: String,
                    props: Map[String, String],
                    maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    require(props.nonEmpty, "setProperties with no properties")
    props.foreach { case (k, v) =>
      requireSafe(k, "property key"); requireSafe(v, "property value")
      require(k.nonEmpty && v.nonEmpty, s"empty property key/value: '$k'='$v'")
    }
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      Some(base.copy(version = 0L, properties = base.properties ++ props,
        op = "set-properties", addedBytes = None))
    }
  }

  /** Remove property keys (missing keys are a no-op, the SQL UNSET
    * convention). Returns the committed version, or the current one when
    * nothing changed.
    */
  def unsetProperties(spark: SparkSession, root: String, keys: Seq[String],
                      maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    require(keys.nonEmpty, "unsetProperties with no keys")
    val (fs, rootP) = fsFor(spark, root)
    commitWithRebase(fs, rootP, maxRetries, tornGraceMs) { baseOpt =>
      val base = baseOpt.getOrElse(throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
      if (!keys.exists(base.properties.contains)) None // nothing to remove
      else Some(base.copy(version = 0L, properties = base.properties -- keys,
        op = "unset-properties", addedBytes = None))
    } match {
      case -1L => latestSnapshot(spark, root).map(_.version).getOrElse(0L)
      case v => v
    }
  }

  /** Rewrite the CURRENT snapshot into ~targetFileBytes files and commit
    * the compacted file list as a new version. Returns
    * (filesBefore, filesAfter, committedVersion). Concurrent appends are
    * preserved: if one lands between our snapshot read and our commit, the
    * rebase keeps its files and swaps out only the files we actually
    * rewrote. If a concurrent COMPACTION already replaced any of our input
    * files, committing our copy too would double the rows — the commit is
    * abandoned instead (version -1; the orphaned rewrite directory is
    * [[vacuum]] food). Old files remain on disk for older-version readers
    * until [[vacuum]]. Partitioned tables re-partition the rewrite by the
    * table's partition columns, so partition grouping (and pruning)
    * survives compaction; a widened schema is MATERIALIZED into the
    * rewritten files (they carry every current column, null-filled).
    */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L << 20,
              maxRetries: Int = 10): (Int, Int, Long) = {
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    compactFrom(spark, root, before, targetFileBytes, maxRetries)
  }

  /** Partial compaction — rewrite only the files matching `filters`
    * (partition values + stats, same pruning as [[readWhere]]), leaving
    * the rest of the snapshot untouched. The production maintenance shape
    * for a partitioned ingest table: compact yesterday's SEALED partition
    * (`EqualTo("date", ...)`) while today's keeps appending — the rebase
    * keeps concurrent appends, and a racing compactor of the SAME subset
    * abandons exactly as [[compact]] does (Delta/Iceberg `OPTIMIZE WHERE`
    * pattern). Returns (filesBefore, filesAfter, version) where
    * filesBefore counts only the MATCHING files.
    */
  def compactWhere(spark: SparkSession, root: String, filters: Seq[Filter],
                   targetFileBytes: Long = 128L << 20,
                   maxRetries: Int = 10): (Int, Int, Long) = {
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    compactFrom(spark, root, before.copy(files = prunedEntries(before, filters)),
      targetFileBytes, maxRetries)
  }

  /** `OPTIMIZE ... ZORDER BY` — rewrite the CURRENT snapshot laid out
    * along the Z-order curve of `dims` ([[graft.operators.Layout.zOrder]])
    * and commit it as a PHYSICAL (op=compact) version: per-file min/max
    * stats come out tight in EVERY interleaved dimension, so
    * multi-column predicates prune through [[readWhere]] AND the
    * planner-integrated format — retro-clustering for a table that was
    * appended in arrival order ([[appendZOrdered]]'s maintenance twin).
    * Row-conserving by construction (deletion vectors materialize away in
    * the rewrite), so tails and change feeds stream straight through it
    * (r12). `files` bounds the rewrite's file count (one per range
    * partition of the curve). Same abandonment contract as [[compact]]:
    * a concurrently superseded input abandons (version -1), concurrent
    * appends rebase in untouched. On a hive-partitioned table the
    * rewrite re-splits by the partition columns AFTER curve layout, so
    * partition pruning survives; `files` then bounds files PER partition
    * directory only approximately.
    */
  def compactZOrdered(spark: SparkSession, root: String, dims: Seq[Column],
                      files: Int, bits: Int = 16, maxRetries: Int = 10,
                      tornGraceMs: Long = 60000L): (Int, Int, Long) = {
    val before = latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed manifest under $root"))
    if (before.files.isEmpty) return (0, 0, before.version)
    val (fs, rootP) = fsFor(spark, root)
    val rewrote = dvSignature(before.files)
    val mine = writeBatch(fs, rootP,
      graft.operators.Layout.zOrder(
        readSnapshot(spark, root, before, Seq.empty), dims, files, bits),
      before.partCols, internalRewrite = true, colMap = before.colMap)
    if (mine.isEmpty) // zero-row snapshot: nothing to commit, keep the base
      return (before.files.size, before.files.size, before.version)
    val v = commitReplacing(fs, rootP, rewrote, mine, before,
      maxRetries, tornGraceMs, refuseEmpty = false, op = "compact")
    (before.files.size, mine.size, v)
  }

  /** [[compact]] against an explicit base snapshot — the test seam for the
    * stale-inputs abandonment path (a second compactor holding a snapshot
    * the first already replaced).
    */
  private[graft] def compactFrom(spark: SparkSession, root: String,
                                 before: Snapshot, targetFileBytes: Long,
                                 maxRetries: Int = 10,
                                 tornGraceMs: Long = 60000L): (Int, Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val (fs, rootP) = fsFor(spark, root)
    if (before.files.isEmpty)
      return (0, 0, before.version)
    val rewrote = dvSignature(before.files)
    // same packing scan as Sink.compactParquet (shared scopedSession):
    // maxPartitionBytes = target, open cost zeroed — a narrow,
    // shuffle-free merge of the snapshot (partition columns reconstructed
    // and re-laid-out hive-style when the table is partitioned)
    val scoped = Sink.scopedSession(spark, targetFileBytes)
    val mine = writeBatch(fs, rootP,
      readSnapshot(scoped, root, before, Seq.empty), before.partCols,
      internalRewrite = true, colMap = before.colMap)
    if (mine.isEmpty) // zero-row snapshot: nothing to commit, keep the base
      return (before.files.size, before.files.size, before.version)
    // txn watermarks, schema and partCols survive via the shared rebase
    val v = commitReplacing(fs, rootP, rewrote, mine, before,
      maxRetries, tornGraceMs, refuseEmpty = false, op = "compact")
    (before.files.size, mine.size, v)
  }

  /** SHALLOW CLONE (r13): a new manifest table at `dstRoot` whose first
    * commit references the SOURCE's current data files (and deletion
    * vectors) IN PLACE — a zero-copy fork, the Delta `SHALLOW CLONE`
    * shape. From that commit on the clone is a fully independent table:
    * its appends/deletes/upserts/compactions write under ITS root and
    * re-point ITS manifest only; its [[vacuum]] lists only the clone's
    * own `data/` tree, so foreign (source-owned) batch directories are
    * structurally untouchable. The clone carries the source's schema,
    * keeps its partition columns, mints a FRESH table identity and starts
    * at version 1 with empty txn watermarks — checkpointed consumers of the
    * source must not resume against it, and vice versa.
    *
    * The Delta caveat, stated: the SOURCE's vacuum knows nothing about
    * clones — vacuuming the source past the cloned snapshot deletes
    * shared files. Retain the source, or [[compact]] the clone (its
    * rewrite copies the rows it keeps into its own root, severing the
    * share). Cloning onto an existing table refuses loudly. Returns the
    * clone's committed version (always 1).
    */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
                   maxRetries: Int = 10, tornGraceMs: Long = 60000L): Long = {
    val snap = latestSnapshot(spark, srcRoot).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed manifest under $srcRoot"))
    require(snap.files.nonEmpty, s"cannot clone an empty table at $srcRoot")
    require(latestSnapshot(spark, dstRoot).isEmpty,
      s"refusing to clone onto $dstRoot — it already holds a committed " +
        "table (clones create tables, they never merge into one)")
    val (fs, dstP) = fsFor(spark, dstRoot)
    commitWithRebase(fs, dstP, maxRetries, tornGraceMs) { base =>
      require(base.isEmpty,
        s"a table appeared at $dstRoot concurrently — refusing to clone " +
          "onto it")
      Some(Snapshot(0L, snap.files, Map.empty, snap.schema, snap.partCols,
        op = "clone", colMap = snap.colMap, droppedPhys = snap.droppedPhys,
        constraints = snap.constraints, properties = snap.properties))
    }
  }

  /** Table history (r13) — the DESCRIBE HISTORY analog: one row per
    * RESOLVABLE version, newest first, up to `limit` —
    * `(version, op, table_id, is_checkpoint, delta_depth, files,
    * live_rows, added_bytes, committed_at)`. `added_bytes` is the v2
    * commit record (null pre-r13); `committed_at` the manifest file's
    * mtime (informational — mtimes are not a stable clock, which is why
    * time travel is by VERSION). Torn/vacuumed slots are simply absent.
    * Tooling-grade cost: one listing + `limit` cached resolutions.
    */
  def history(spark: SparkSession, root: String, limit: Int = 20): DataFrame = {
    require(limit >= 1, s"limit must be positive: $limit")
    val (fs, rootP) = fsFor(spark, root)
    val rows = listVersions(fs, rootP).reverse.iterator
      .flatMap { v =>
        readManifest(fs, rootP, v).map { s =>
          val mtime = try new java.sql.Timestamp(
            fs.getFileStatus(manifestPath(rootP, v)).getModificationTime)
          catch { case scala.util.control.NonFatal(_) => null }
          Row(s.version, if (s.op.isEmpty) null else s.op,
            if (s.tableId.isEmpty) null else s.tableId,
            s.deltaDepth == 0, s.deltaDepth, s.files.size.toLong,
            s.files.map(liveRowsOf).sum, s.addedBytes.orNull, mtime)
        }
      }.take(limit).toSeq
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("op", StringType),
        StructField("table_id", StringType),
        StructField("is_checkpoint", BooleanType, nullable = false),
        StructField("delta_depth", IntegerType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("live_rows", LongType, nullable = false),
        StructField("added_bytes", LongType),
        StructField("committed_at", TimestampType))))
  }

  /** Drop data unreferenced by the newest `keepVersions` intact manifests
    * AND older than `minAgeMs` — age is the max of the batch directory's
    * own mtime and its (recursively listed) FILES' mtimes (object stores
    * report synthetic times on directory markers; a writer mid-upload
    * always has fresh files). Also prunes manifest files older than the
    * kept set. Returns the number of batch directories deleted.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
             minAgeMs: Long = 24L * 3600 * 1000,
             dryRun: Boolean = false): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val (fs, rootP) = fsFor(spark, root)
    val versions = listVersions(fs, rootP)
    val kept = versions.reverse.iterator
      .flatMap(v => readManifest(fs, rootP, v)).take(keepVersions).toSeq
    if (kept.isEmpty) return 0
    // compare scheme/authority-STRIPPED paths: a Path parsed from a
    // manifest string carries a null URI authority ("file:/x") while
    // listStatus returns an empty one ("file:///x") — raw-URI comparison
    // would read every live directory as unreferenced and vacuum the
    // current snapshot itself
    def stripped(p: Path): String =
      Path.getPathWithoutSchemeAndAuthority(p).toString
    val dd = dataDir(rootP)
    val ddStr = stripped(dd)
    // the BATCH directory of a file = its ancestor directly under data/ —
    // a partitioned file sits two+ levels down (batch/col=v/part.parquet),
    // and marking only its immediate parent live would vacuum the live
    // batch itself
    def batchDirOf(p: Path): Option[Path] = {
      var cur = p
      var parent = cur.getParent
      while (parent != null && stripped(parent) != ddStr) {
        cur = parent
        parent = cur.getParent
      }
      if (parent == null) None else Some(cur)
    }
    // manifest retention and data retention must AGREE (advice r13): a
    // kept DELTA version keeps its whole chain back to its checkpoint
    // resolvable, so chain-interior versions (e.g. pre-compaction deltas
    // on a kept checkpoint chain) stay readable — their data must be live
    // too, or readVersion/history/changesBetweenVersioned would plan scans
    // over vanished files and die with FileNotFoundException at execution
    // instead of the contracted "gone (vacuumed)" refusal. The live set
    // therefore spans EVERY retained manifest (>= the kept snapshots'
    // lowest checkpoint), not just the newest keepVersions.
    val keepV = kept.map(_.checkpointVersion).min
    val retained = versions.iterator.filter(_ >= keepV)
      .flatMap(v => readManifest(fs, rootP, v)).toSeq
    // deletion-vector files are referenced state too: vacuuming a live
    // dv dir would resurrect the deleted rows of every kept version (r11)
    // bloom sidecar dirs are referenced state too (r15): they live under
    // data/ like any batch, so retention is simply membership in a
    // retained manifest's index ref — dropped/replaced refs age out here
    val live = retained.flatMap(_.files.flatMap(f =>
      (Seq(new Path(f.path)) ++ f.dv.map(d => new Path(d.path)))
        .flatMap(p => batchDirOf(p).map(stripped)))).toSet ++
      retained.flatMap(_.bloomIdx.toSeq.flatMap(_.dirs))
        .map(n => stripped(new Path(dd, n))).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    var dropped = 0
    def newestTouch(s: FileStatus): Long = {
      val kids = if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq.empty
      (s.getModificationTime +: kids.map(newestTouch)).max
    }
    if (fs.exists(dd)) for (d <- fs.listStatus(dd) if d.isDirectory) {
      val ref = live.contains(stripped(d.getPath))
      if (!ref && newestTouch(d) < cutoff) {
        if (!dryRun) fs.delete(d.getPath, true): Unit
        dropped += 1
      }
    }
    // ADOPTED files (r15, CONVERT TO MANIFEST): a converted table's
    // original parquet lives OUTSIDE data/ — once maintenance rewrites
    // it away and every referencing manifest leaves retention, reclaim
    // it here (per-FILE, not per-batch-dir: adopted layouts are not ours
    // to bulldoze; emptied partition dirs are left, harmless). The walk
    // skips data/ and _manifests/, so on a never-converted table it is
    // one listStatus of root finding nothing. Like Delta's vacuum, any
    // UNREFERENCED parquet under the table root past the age cutoff is
    // reclaimed — the root is the table's, by contract.
    val liveOutside = retained.flatMap(_.files.map(f => stripped(new Path(f.path))))
      .filterNot(_.startsWith(ddStr)).toSet
    val mdStr = stripped(manifestsDir(rootP))
    def outsideLeaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        val sp = stripped(st.getPath)
        if (n.startsWith("_") || n.startsWith(".") ||
            sp == ddStr || sp == mdStr) Seq.empty
        else if (st.isDirectory) outsideLeaves(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    for (st <- outsideLeaves(rootP)
         if !liveOutside.contains(stripped(st.getPath)) &&
           st.getModificationTime < cutoff) {
      if (!dryRun) fs.delete(st.getPath, false): Unit
      dropped += 1
    }
    // a kept DELTA version needs its whole chain back to its checkpoint to
    // stay replayable (r13) — prune manifests strictly below the kept
    // snapshots' lowest checkpoint, never just below their lowest version
    // (dry run touches nothing and just reports the batch count)
    if (!dryRun) for (v <- versions if v < keepV)
      fs.delete(manifestPath(rootP, v), false)
    dropped
  }
}
