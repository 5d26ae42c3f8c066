package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

import ManifestStore.{BloomIndex, Constraint, ManifestEntry, PreR10ManifestException,
  Snapshot, UnsupportedManifestVersionException}

/** The commit log of a manifest table: everything under `_manifests/`.
  * [[ManifestStore]]'s operations build snapshots; this object alone
  * knows how a snapshot becomes bytes, how bytes resolve back into a
  * snapshot, and how a new version is claimed. Three parts:
  *
  *  - the FORMAT: headers and marker lines, delta and checkpoint
  *    rendering through one renderer, the strict parser and the md5
  *    checksum framing;
  *  - RESOLUTION: the `_latest` hint, the forward probe, the full-listing
  *    fallback, delta-chain replay and the two per-JVM caches (resolved
  *    snapshots and per-version commit records);
  *  - the COMMIT protocol: create-exclusive claims, rebase-and-retry,
  *    the torn-slot grace and the commit-point probe.
  *
  * The interface says nothing about the format: [[latest]], [[at]],
  * [[record]], [[versions]], [[committedAt]], [[increment]] (the versioned
  * change feed's per-version step), [[prune]] and [[commit]]. It has no
  * knobs: the retry bound and the torn-slot grace are the constants
  * [[MaxCommitRetries]] and [[TornGraceMs]].
  */
object ManifestLog {

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

  /** How many delta manifests may stack on one self-contained checkpoint
    * before the next commit writes a fresh checkpoint (the Delta-log
    * checkpoint cadence). Test seam; the default keeps worst-case cold
    * resolution at one O(files) parse + ≤15 O(delta) parses.
    */
  @volatile private[graft] var checkpointInterval: Int = 16

  /** Lost races one commit survives before it refuses (see [[commit]]). */
  private[graft] final val MaxCommitRetries = 10

  /** How long a torn slot above the intact head may still be a committer
    * mid-write (see [[awaitTornSlots]]).
    */
  private[graft] final val TornGraceMs = 60000L

  private val MarkerShape = java.util.regex.Pattern.compile("^[a-z][a-z0-9_]*=")
  private def manifestsDir(root: Path) = new Path(root, "_manifests")
  private def manifestPath(root: Path, v: Long) =
    new Path(manifestsDir(root), f"v$v%020d.manifest")
  private val ManifestName = """^v(\d{20})\.manifest$""".r

  /** One manifest file, parsed: either SELF-CONTAINED (a v1 manifest or a
    * v2 checkpoint — the full snapshot) or a v2 DELTA against an earlier
    * intact base version.
    */
  private[sources] sealed trait Parsed
  private[sources] final case class FullManifest(s: Snapshot) extends Parsed
  private[sources] final case class DeltaManifest(d: DeltaRec) extends Parsed

  /** The body of a delta manifest: everything that CHANGED vs `base`.
    * `entries` are added files AND in-place replacements (same path,
    * re-pointed dv or enriched stats); `removed` are paths dropped;
    * `txns` only the watermarks that moved; `schema`/`partCols` only when
    * they changed (None = inherit the base's).
    */
  private[sources] final case class DeltaRec(version: Long, base: Long, op: String,
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

  private[sources] def requireSafe(v: String, what: String): Unit =
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

  /** The one manifest renderer. With a `base` it writes a v2 DELTA, the
    * commit-side answer to the O(live files) write amplification (r13,
    * VERDICT r12 #1): `base=` names the intact version the commit built on
    * (NOT blindly version-1: torn slots durably exist in the sequence),
    * `rm=` lines drop files, entry lines add or in-place replace (same
    * path), and a marker line appears only when its value differs from
    * the base's (`txn=` lines only for moved watermarks, `schema=` only
    * for a widening). Without a base it writes a self-contained
    * CHECKPOINT, the replay anchor of every delta chain: the same
    * rendering against an empty snapshot, without `base=` and `rm=`
    * lines — every set marker and every file line.
    *
    * Header rule: a table with live column mapping, constraints or
    * properties writes format v3; everything else stays v2 (no gratuitous
    * refusal for pre-r14 readers). Constraints FORCE v3 deliberately: a
    * pre-r15 writer cannot enforce them, so it must refuse the table
    * loudly rather than land unvalidated rows. A delta that CHANGES any
    * of the four carries v3 even when the new state is EMPTY (a
    * rename-back or restore that resets colMap/droppedPhys): a v2-headed
    * reset delta would have its reset lines skipped by the v2
    * unknown-marker rule, and every cold chain resolution would silently
    * keep the stale mapping (ADVICE r14 #1). Against the empty snapshot
    * both halves of the rule name the same tables.
    */
  private def render(s: Snapshot, base: Option[Snapshot], removed: Seq[String],
                     changed: Seq[ManifestEntry], addedBytes: Long)
      : java.io.OutputStream => Unit = out => streamManifest(out) { body =>
    val b = base.getOrElse(Snapshot(0L, Seq.empty))
    val v3 = s.colMap.nonEmpty || s.droppedPhys.nonEmpty ||
      s.constraints.nonEmpty || s.properties.nonEmpty ||
      s.colMap != b.colMap || s.droppedPhys != b.droppedPhys ||
      s.constraints != b.constraints || s.properties != b.properties
    body.append(if (v3) Header3 else Header2).append('\n')
    body.append("version=").append(s.version.toString).append('\n')
    base.foreach(x => body.append("base=").append(x.version.toString).append('\n'))
    body.append("addbytes=").append(addedBytes.toString).append('\n')
    if (s.schema != b.schema) s.schema.foreach(appendSchema(body, _))
    if (s.colMap != b.colMap) appendColMap(body, s.colMap)
    if (s.droppedPhys != b.droppedPhys) appendDropped(body, s.droppedPhys)
    if (s.constraints != b.constraints) appendConstraints(body, s.constraints)
    if (s.properties != b.properties) appendProperties(body, s.properties)
    if (s.bloomIdx != b.bloomIdx) appendBloomIdx(body, s.bloomIdx)
    if (s.partCols != b.partCols) appendPartCols(body, s.partCols)
    if (s.op.nonEmpty) {
      requireSafe(s.op, "op"); body.append("op=").append(s.op).append('\n')
    }
    if (s.tableId.nonEmpty) {
      requireSafe(s.tableId, "tableId")
      body.append("table=").append(s.tableId).append('\n')
    }
    appendTxns(body, s.txns.filter { case (a, v) => !b.txns.get(a).contains(v) })
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
    def checkpoint = (render(s, None, Seq.empty, s.files, addedBytes),
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
        else (render(s, Some(b), removed, changed, addedBytes),
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
        // before the render header rule above) must still clear the
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


  /** Every version with a manifest file under `root`, ascending — one
    * full listing; torn slots are listed too.
    */
  private[graft] def versions(fs: FileSystem, root: Path): Seq[Long] = {
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
    * [[at]]'s intact parse (or its cache hit, which proves a
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

  /** The intact snapshot at version `v`, or None (torn, never committed,
    * or pruned), through [[snapshotCache]]: manifests are immutable per
    * version and the key carries the file's (len, mtime), so time travel,
    * commit-rebase reads and a tail consumer's per-tick base all skip
    * re-parsing. A v2 DELTA manifest resolves by walking down to its anchor and applying
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
  private[graft] def at(fs: FileSystem, root: Path, v: Long): Option[Snapshot] = {
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
    * new entries append in commit order — one delta at a time gives the
    * same result, without this pass's single entry-list copy.
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
      // replacement); a new key appends — the chain's order contract
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

  /** The head of the log: the versions a resolution considered and the
    * highest intact snapshot among them (None for an empty or
    * uninitialized table). Torn versions (crashed or in-flight
    * committers) are skipped, never trusted. The `_latest` hint names
    * where the TAIL starts and forward existence probes find its end
    * (versions are consecutive by construction: each commit claims max+1
    * and vacuum only trims the low end) — normally one hint read + one
    * miss probe instead of listing the whole `_manifests/` directory.
    * Every broken-hint shape (absent, corrupt, dangling, a hinted tail
    * with no intact version — a torn slot or a checksum-valid but
    * unparseable head — or a hint stale past the probe cap) degrades to
    * one full listing, so correctness is exactly the unhinted behavior.
    * With [[snapshotCache]] the steady state is a hint read, one
    * existence probe, one getFileStatus and a cache hit — zero manifest
    * GETs, zero parsing, O(1) in both accrued versions and live-file
    * count (r12). Shared by [[latest]] and [[awaitTornSlots]].
    */
  private def resolveHead(fs: FileSystem, root: Path): (Seq[Long], Option[Snapshot]) =
    readHintedVersion(fs, root)
      .flatMap(hint => probeHead(fs, root, hint).map(hint to _))
      .flatMap(tail => highestIntact(fs, root, tail).map(s => (tail, Some(s))))
      .getOrElse {
        val all = versions(fs, root)
        (all, highestIntact(fs, root, all))
      }

  /** The highest of `vs` that resolves, through [[snapshotCache]]. */
  private def highestIntact(fs: FileSystem, root: Path, vs: Seq[Long]): Option[Snapshot] =
    vs.reverse.iterator.flatMap(at(fs, root, _)).nextOption()

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

  /** The highest intact snapshot, or None for an empty/uninitialized
    * table (see [[resolveHead]]).
    */
  private[graft] def latest(fs: FileSystem, root: Path): Option[Snapshot] =
    resolveHead(fs, root)._2

  /** [[latest]] forced down the full-listing path AND past the snapshot
    * cache — the pre-hint/pre-cache resolution, kept as the comparison
    * arm for the SLO harness and the tests, and as the recovery tool when
    * a root's hint or cache state is suspect.
    */
  private[graft] def latestUnhinted(fs: FileSystem, root: Path): Option[Snapshot] = {
    def resolveUncached(v: Long): Option[Snapshot] =
      parse(fs, root, v).flatMap {
        case FullManifest(s) => Some(s)
        case DeltaManifest(d) => resolveUncached(d.base).flatMap(applyChain(_, List(d)))
      }
    versions(fs, root).reverse.iterator.flatMap(resolveUncached).nextOption()
  }

  /** The store's write time of version `v`'s manifest file (None: no such
    * file). Informational — mtimes are the store's clock, not a commit
    * clock, which is why time travel is by version.
    */
  private[graft] def committedAt(fs: FileSystem, root: Path, v: Long): Option[Long] =
    try Some(fs.getFileStatus(manifestPath(root, v)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Version `v`'s own INCREMENT, without resolving its chain: a delta's
    * change record, or a checkpoint's whole snapshot — the versioned
    * change feed's per-version step. None = torn or absent (the slot is
    * not a commit).
    */
  private[sources] def increment(fs: FileSystem, root: Path, v: Long): Option[Parsed] =
    parse(fs, root, v)

  /** Delete the manifests of the listed `vs` below `below` — vacuum's
    * manifest retention. The caller passes its own listing, so pruning
    * lists nothing again.
    */
  private[sources] def prune(fs: FileSystem, root: Path, vs: Seq[Long], below: Long): Unit =
    for (v <- vs if v < below) fs.delete(manifestPath(root, v), false)

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

  /** Monotone JVM-wide count of lost commit races (rebase retries) — the
    * hot-table contention signal the streaming SLO harness reports
    * alongside its latency percentiles (graft.ManifestSlo).
    */
  val commitRetries = new java.util.concurrent.atomic.LongAdder

  /** Commit the next version — the one write path of every operation.
    * `build` gets the rebased base (None on an uninitialized table) and
    * returns the snapshot to commit on it (its version and table id are
    * set here), or None to ABANDON against that base (e.g. a compaction
    * whose inputs another compactor already replaced) — reported as -1.
    * Returns the committed version.
    *
    * The base snapshot and the claimed slot derive from ONE listing: the
    * slot is strictly above every version that listing saw, so a commit
    * landing between listing and claim occupies our slot and the
    * create-exclusive collides — we rebase and retry, never silently
    * drop the interleaved commit. Two constants bound the protocol:
    *
    *  - [[MaxCommitRetries]] (10): a commit that loses 11 consecutive
    *    races refuses with an IOException — a pathologically hot table
    *    backs off at the caller;
    *  - [[TornGraceMs]] (60 s): a torn slot above the intact head whose
    *    manifest mtime is younger than this is a committer still writing,
    *    and each attempt waits for it to become intact or age out first
    *    ([[awaitTornSlots]]).
    */
  private[graft] def commit(fs: FileSystem, root: Path)
                           (build: Option[Snapshot] => Option[Snapshot]): Long = {
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val versions = awaitTornSlots(fs, root)
      // re-resolved over the returned listing (cache hits): an aged torn
      // slot that became intact meanwhile is the base, never orphaned
      val base = highestIntact(fs, root, versions)
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
      s"manifest commit lost ${MaxCommitRetries + 1} consecutive races under $root — " +
        "a pathologically hot table; back off and retry")
  }

  /** Wait for torn slots above the intact head to become intact or age
    * past [[TornGraceMs]] (by slot mtime). A torn slot may be a committer
    * mid-write: building past it and winning the NEXT slot would orphan
    * its commit the moment it completes — told "committed", referenced by
    * no later snapshot. A slot still torn after the grace is a crashed
    * committer (its caller never got a success), dead forever. Returns
    * the final listing. A committer that takes longer than the grace to
    * flush its manifest bytes can still be orphaned — the grace dwarfs a
    * small-file write.
    */
  private def awaitTornSlots(fs: FileSystem, root: Path): Seq[Long] = {
    while (true) {
      val (versions, head) = resolveHead(fs, root)
      val headV = head.map(_.version).getOrElse(0L)
      val youngTorn = versions.filter(_ > headV).flatMap { v =>
        committedAt(fs, root, v).flatMap { mtime =>
          val age = System.currentTimeMillis() - mtime
          if (age < TornGraceMs) Some(TornGraceMs - age) else None
        }
      }
      if (youngTorn.isEmpty) return versions
      Thread.sleep(math.min(youngTorn.max, 200L))
    }
    sys.error("unreachable")
  }

  /** ONE version's commit record — op and `addbytes=` — parsed from its
    * own manifest file WITHOUT resolving the delta chain (r13, VERDICT
    * r12 #2): cost is O(that manifest's bytes), which for a delta is the
    * increment, independent of table width. `addedBytes` None = a
    * pre-r13 manifest without the marker (callers fall back to the
    * snapshot diff). The streaming source's admission control walks a
    * deep backlog through this instead of materializing every version's
    * file list.
    */
  final case class CommitRecord(op: String, addedBytes: Option[Long],
                                isDelta: Boolean)

  private val recordCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long, Long), CommitRecord](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), CommitRecord])
        : Boolean = size > 256
    })

  /** Version `v`'s [[CommitRecord]], cached per manifest file state; None
    * = torn or absent (the slot is not a commit).
    */
  private[graft] def record(fs: FileSystem, root: Path, v: Long): Option[CommitRecord] = {
    val st = try fs.getFileStatus(manifestPath(root, v))
    catch { case _: java.io.FileNotFoundException => return None }
    val key = (root.toString, v, st.getLen, st.getModificationTime)
    Option(recordCache.get(key)).orElse {
      val rec = parse(fs, root, v).map {
        case FullManifest(s) => CommitRecord(s.op, s.addedBytes, isDelta = false)
        case DeltaManifest(d) => CommitRecord(d.op, d.addedBytes, isDelta = true)
      }
      rec.foreach(recordCache.put(key, _))
      rec
    }
  }
}
