package graft.sources

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** SQL maintenance verbs for graft-manifest tables (r14, VERDICT r13 #1):
  * the lifecycle a SQL-only user needs beyond DML —
  *
  * {{{
  *   OPTIMIZE t [WHERE <stats-prunable conjuncts>] [ZORDER BY (c1, c2)]
  *   VACUUM t [RETAIN <n> VERSIONS] [RETAIN <n> HOURS] [DRY RUN]
  *   ALTER TABLE t RENAME COLUMN a TO b / DROP COLUMN a
  *   RESTORE TABLE t [TO] VERSION AS OF <n>
  *   DESCRIBE HISTORY t [LIMIT <n>]
  * }}}
  *
  * `t` is a session-catalog table registered with provider
  * `graft-manifest`, or (except ALTER, which syncs catalog schema) a
  * quoted path literal (`OPTIMIZE '/data/t'`) — the Delta surface shape.
  * None of these statements are ANSI SQL, so this is a DELEGATING parser
  * (the Delta extension pattern, installed via
  * `SparkSessionExtensions.injectParser`): the verb shapes are recognized
  * up front by cheap anchored matches and everything else — including
  * parse ERRORS in non-maintenance statements — flows to Spark's own
  * parser untouched.
  *
  * Semantics map 1:1 onto the library API:
  *  - `OPTIMIZE` = [[ManifestStore.compact]] (bin-pack to the default
  *    target file size); with `WHERE` = [[ManifestStore.compactWhere]]
  *    (only the files whose stats might match are rewritten); with
  *    `ZORDER BY` = [[ManifestStore.compactZOrdered]] (file count derived
  *    from current bytes / 128 MiB). All commit ONE physical (op=compact)
  *    version — row-conserving, so tails and change feeds stream through.
  *  - `VACUUM` = [[ManifestStore.vacuum]]. `RETAIN n VERSIONS` maps to
  *    keepVersions (default 2); `RETAIN n HOURS` maps to the age guard
  *    (default 24h). Both clauses may appear (either order); `DRY RUN`
  *    reports the reclaimable batch count and touches nothing.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseMaintenance(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  // target = 'path literal' | (possibly backquoted, possibly qualified)
  // identifier. Backquotes and quotes may not NEST here — a name that
  // needs them goes through the library API.
  private val Target = """('[^']+'|`[^`]+`(?:\.`[^`]+`)*|[\w.]+)"""

  private val OptimizeRe = Pattern.compile(
    s"""(?is)^\\s*OPTIMIZE\\s+$Target(?:\\s+WHERE\\s+(.+?))??(?:\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\))?\\s*;?\\s*$$""")

  private val VacuumRe = Pattern.compile(
    s"""(?is)^\\s*VACUUM\\s+$Target((?:\\s+RETAIN\\s+\\d+\\s+(?:VERSIONS|HOURS))*)(\\s+DRY\\s+RUN)?\\s*;?\\s*$$""")

  private val RetainRe = Pattern.compile(
    """(?i)RETAIN\s+(\d+)\s+(VERSIONS|HOURS)""")

  // identifier-only targets here (a bare path has no catalog schema to
  // keep in sync). Column tokens: bare or backquoted, no dots.
  private val ColTok = """(`[^`]+`|\w+)"""
  private val RenameColRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+RENAME\\s+COLUMN\\s+$ColTok\\s+TO\\s+$ColTok\\s*;?\\s*$$""")
  private val DropColRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+DROP\\s+COLUMN\\s+$ColTok\\s*;?\\s*$$""")

  private def unquoteCol(t: String): String =
    if (t.startsWith("`") && t.endsWith("`")) t.substring(1, t.length - 1) else t

  /** True iff the 1-2 part name resolves in the active session's v1
    * catalog to a table with provider `graft-manifest` (the same probe
    * [[rootOf]] makes at run time). Best-effort at PARSE time: any
    * resolution failure means "not ours" and the statement flows to the
    * delegate untouched — never a parse-time error from this probe.
    */
  private def isSessionManifestTable(parts: Seq[String]): Boolean =
    SparkSession.getActiveSession.exists { spark =>
      val ident = parts match {
        case Seq(t) => Some(TableIdentifier(t))
        case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
        case _ => None
      }
      ident.exists { id =>
        try {
          val cat = spark.sessionState.catalog
          cat.tableExists(id) &&
            cat.getTableMetadata(id).provider
              .exists(_.equalsIgnoreCase("graft-manifest"))
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    }

  // r15: constraints, table properties and the one-row detail twin.
  // SET/UNSET TBLPROPERTIES and ALTER COLUMN SET/DROP NOT NULL are valid
  // Spark SQL on other tables, so they intercept ONLY for session-catalog
  // graft-manifest tables (or quoted paths, which no other surface
  // accepts); ADD/DROP CONSTRAINT and DESCRIBE DETAIL are gated the same
  // way for symmetry and future-proofing (DSv2 check constraints).
  private val AddConstraintRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val DropConstraintRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$""")
  private val NotNullRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ALTER\\s+COLUMN\\s+$ColTok\\s+(SET|DROP)\\s+NOT\\s+NULL\\s*;?\\s*$$""")
  private val AlterTypeRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ALTER\\s+COLUMN\\s+$ColTok\\s+TYPE\\s+([\\w()\\s,]+?)\\s*;?\\s*$$""")
  private val SetPropsRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val UnsetPropsRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+UNSET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val DetailRe = Pattern.compile(
    s"""(?is)^\\s*DESCRIBE\\s+DETAIL\\s+$Target\\s*;?\\s*$$""")

  // one `'k' = 'v'` (or bare-identifier key) pair of a TBLPROPERTIES list
  private val PropPairRe = Pattern.compile(
    """\s*(?:'([^']*)'|([\w.\-]+))\s*=\s*'([^']*)'\s*(?:,|$)""")
  private val PropKeyRe = Pattern.compile(
    """\s*(?:'([^']*)'|([\w.\-]+))\s*(?:,|$)""")

  private def parsePropPairs(list: String): Map[String, String] = {
    val m = PropPairRe.matcher(list)
    val out = Map.newBuilder[String, String]
    var consumed = 0
    while (m.find() && m.start() == consumed) {
      out += Option(m.group(1)).getOrElse(m.group(2)) -> m.group(3)
      consumed = m.end()
    }
    require(consumed == list.length,
      s"cannot parse TBLPROPERTIES list at: '${list.substring(consumed)}' — " +
        "expected 'key' = 'value' pairs")
    out.result()
  }

  private def parsePropKeys(list: String): Seq[String] = {
    val m = PropKeyRe.matcher(list)
    val out = Seq.newBuilder[String]
    var consumed = 0
    while (m.find() && m.start() == consumed) {
      out += Option(m.group(1)).getOrElse(m.group(2))
      consumed = m.end()
    }
    require(consumed == list.length,
      s"cannot parse UNSET TBLPROPERTIES list at: '${list.substring(consumed)}'")
    out.result()
  }

  // r15 Bloom sidecar index: `ALTER TABLE t ADD BLOOM INDEX ON (c1, c2)
  // [WITH FPP 0.01]` / `ALTER TABLE t DROP BLOOM INDEX`. Not valid Spark
  // SQL on any table, but gated by ours() like the other ALTERs so a
  // non-manifest identifier still gets Spark's own parse error.
  private val AddBloomRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ADD\\s+BLOOM\\s+INDEX\\s+ON\\s*\\(([^)]+)\\)(?:\\s+WITH\\s+FPP\\s+([0-9.eE+]+))?\\s*;?\\s*$$""")
  private val DropBloomRe = Pattern.compile(
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+DROP\\s+BLOOM\\s+INDEX\\s*;?\\s*$$""")

  // r15: `CONVERT TO MANIFEST '<path>'` — in-place adoption of a plain
  // parquet directory (the Delta CONVERT shape). Path-literal only: a
  // catalog identifier's provider rewrite is a separate concern.
  private val ConvertRe = Pattern.compile(
    """(?is)^\s*CONVERT\s+TO\s+MANIFEST\s+('[^']+')\s*;?\s*$""")

  private val RestoreRe = Pattern.compile(
    s"""(?is)^\\s*RESTORE\\s+TABLE\\s+$Target\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""")

  private val HistoryRe = Pattern.compile(
    s"""(?is)^\\s*DESCRIBE\\s+HISTORY\\s+$Target(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$$""")

  /** The parsed maintenance command, or None for every other statement. */
  private[sources] def parseMaintenance(sqlText: String,
                                        delegate: ParserInterface)
      : Option[LogicalPlan] = {
    def targetOf(raw: String): Either[String, Seq[String]] =
      if (raw.startsWith("'")) Left(raw.substring(1, raw.length - 1))
      else Right(delegate.parseMultipartIdentifier(raw))
    val om = OptimizeRe.matcher(sqlText)
    if (om.matches()) {
      val zorder = Option(om.group(3)).map(_.split(",").map { c =>
        val t = c.trim
        if (t.startsWith("`") && t.endsWith("`")) t.substring(1, t.length - 1)
        else t
      }.toSeq).getOrElse(Seq.empty)
      zorder.foreach(c => require(c.nonEmpty, "empty ZORDER BY column"))
      val where = Option(om.group(2)).map(_.trim).filter(_.nonEmpty)
      require(where.isEmpty || zorder.isEmpty,
        "OPTIMIZE ... WHERE cannot combine with ZORDER BY — z-order the " +
          "whole table, or bin-pack the matching slice")
      return Some(ManifestOptimizeCommand(targetOf(om.group(1)), zorder, where))
    }
    // ALTER TABLE ... RENAME/DROP COLUMN (r14 column mapping): intercepted
    // ONLY when the session catalog resolves the 1-2 part name to a v1
    // table whose provider is graft-manifest — Spark's analyzer refuses
    // both statements on every OTHER v1 table, but a DSv2 catalog plugin
    // registered as spark_catalog legitimately supports them through the
    // same 1-2 part names, and a blanket intercept would shadow it
    // (ADVICE r14 #3). Unresolvable names fall through too, so the
    // delegate produces the standard table-not-found error.
    val rc = RenameColRe.matcher(sqlText)
    if (rc.matches() && !rc.group(1).startsWith("'")) {
      val parts = delegate.parseMultipartIdentifier(rc.group(1))
      if (parts.size <= 2 && isSessionManifestTable(parts))
        return Some(ManifestAlterColumnCommand(Right(parts),
          unquoteCol(rc.group(2)), Some(unquoteCol(rc.group(3)))))
    }
    val dc = DropColRe.matcher(sqlText)
    if (dc.matches() && !dc.group(1).startsWith("'")) {
      val parts = delegate.parseMultipartIdentifier(dc.group(1))
      if (parts.size <= 2 && isSessionManifestTable(parts))
        return Some(ManifestAlterColumnCommand(Right(parts),
          unquoteCol(dc.group(2)), None))
    }
    // a quoted path is ALWAYS ours (no other surface accepts one); an
    // identifier must resolve to a session-catalog graft-manifest table
    // or the statement flows to the delegate untouched
    def ours(raw: String): Boolean =
      raw.startsWith("'") || {
        val parts = delegate.parseMultipartIdentifier(raw)
        parts.size <= 2 && isSessionManifestTable(parts)
      }
    val ac = AddConstraintRe.matcher(sqlText)
    if (ac.matches() && ours(ac.group(1)))
      return Some(ManifestAddConstraintCommand(targetOf(ac.group(1)),
        ac.group(2), ac.group(3).trim))
    val dcon = DropConstraintRe.matcher(sqlText)
    if (dcon.matches() && ours(dcon.group(1)))
      return Some(ManifestDropConstraintCommand(targetOf(dcon.group(1)),
        dcon.group(2)))
    val nn = NotNullRe.matcher(sqlText)
    if (nn.matches() && ours(nn.group(1)))
      return Some(ManifestNotNullCommand(targetOf(nn.group(1)),
        unquoteCol(nn.group(2)),
        set = nn.group(3).equalsIgnoreCase("SET")))
    val at = AlterTypeRe.matcher(sqlText)
    if (at.matches() && ours(at.group(1)))
      return Some(ManifestAlterTypeCommand(targetOf(at.group(1)),
        unquoteCol(at.group(2)), at.group(3).trim))
    val sp = SetPropsRe.matcher(sqlText)
    if (sp.matches() && ours(sp.group(1)))
      return Some(ManifestPropertiesCommand(targetOf(sp.group(1)),
        set = parsePropPairs(sp.group(2)), unset = Seq.empty))
    val up = UnsetPropsRe.matcher(sqlText)
    if (up.matches() && ours(up.group(1)))
      return Some(ManifestPropertiesCommand(targetOf(up.group(1)),
        set = Map.empty, unset = parsePropKeys(up.group(2))))
    val dd = DetailRe.matcher(sqlText)
    if (dd.matches() && ours(dd.group(1)))
      return Some(ManifestDetailCommand(targetOf(dd.group(1))))
    val ab = AddBloomRe.matcher(sqlText)
    if (ab.matches() && ours(ab.group(1))) {
      val cols = ab.group(2).split(",").map(c => unquoteCol(c.trim)).toSeq
      cols.foreach(c => require(c.nonEmpty, "empty BLOOM INDEX column"))
      return Some(ManifestBloomCommand(targetOf(ab.group(1)), cols,
        Option(ab.group(3)).map(_.toDouble)))
    }
    val db = DropBloomRe.matcher(sqlText)
    if (db.matches() && ours(db.group(1)))
      return Some(ManifestBloomCommand(targetOf(db.group(1)), Seq.empty, None))
    // RESTORE TABLE t [TO] VERSION AS OF n — durable time travel (the
    // Delta RESTORE shape); DESCRIBE HISTORY t [LIMIT n] — the table's
    // committed versions. Neither is valid Spark SQL, so the intercept
    // shadows nothing.
    val cv = ConvertRe.matcher(sqlText)
    if (cv.matches())
      return Some(ManifestConvertCommand(
        cv.group(1).substring(1, cv.group(1).length - 1)))
    val rs = RestoreRe.matcher(sqlText)
    if (rs.matches())
      return Some(ManifestRestoreCommand(targetOf(rs.group(1)),
        rs.group(2).toLong))
    val hs = HistoryRe.matcher(sqlText)
    if (hs.matches())
      return Some(ManifestHistoryCommand(targetOf(hs.group(1)),
        Option(hs.group(2)).map(_.toInt).getOrElse(20)))
    val vm = VacuumRe.matcher(sqlText)
    if (vm.matches()) {
      var keepVersions: Option[Int] = None
      var retainHours: Option[Long] = None
      val rm = RetainRe.matcher(vm.group(2))
      while (rm.find()) {
        val n = rm.group(1).toLong
        if (rm.group(2).toUpperCase(Locale.ROOT) == "VERSIONS") {
          require(n >= 1, s"RETAIN $n VERSIONS — must keep at least 1")
          keepVersions = Some(n.toInt)
        } else retainHours = Some(n)
      }
      return Some(ManifestVacuumCommand(targetOf(vm.group(1)),
        keepVersions, retainHours, dryRun = vm.group(3) != null))
    }
    None
  }

  /** SQL maintenance target → manifest root (+ the catalog identity to
    * refresh, when the target is a registered table). A path literal is
    * used directly; an identifier must name a session-catalog table whose
    * provider is `graft-manifest` — other formats refuse loudly rather
    * than have their directories compacted as if they were manifest
    * tables.
    */
  private[graft] def rootOf(spark: SparkSession,
                            target: Either[String, Seq[String]])
      : (String, Option[TableIdentifier]) = target match {
    case Left(path) => (path, None)
    case Right(parts) =>
      val ident = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case other => throw new IllegalArgumentException(
          s"maintenance target must be a [db.]table name or a quoted path " +
            s"literal — got ${other.mkString(".")}")
      }
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      require(meta.provider.exists(_.equalsIgnoreCase("graft-manifest")),
        s"$ident is not a graft-manifest table (provider " +
          s"${meta.provider.getOrElse("?")}) — OPTIMIZE/VACUUM apply to " +
          "manifest tables only")
      val root = meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.toString)).getOrElse(
          throw new IllegalArgumentException(s"$ident records no path"))
      (root, Some(ident))
  }

  /** Retry a rewrite that ABANDONED (-1: a concurrent rewrite superseded a
    * touched file between snapshot and commit) — same policy as SQL DML.
    */
  private[sources] def retryingRewrite(what: String, root: String,
                                       attempts: Int = 3)
                                      (op: => (Int, Int, Long)): (Int, Int, Long) = {
    var i = 0
    while (i < attempts) {
      val r = op
      if (r._3 != -1L) return r
      i += 1
    }
    throw new IllegalStateException(
      s"$what on $root abandoned $attempts times (concurrent rewrites kept " +
        "superseding the touched files) — quiesce maintenance and retry")
  }
}

/** One `OPTIMIZE` = one physical compaction commit (bin-pack, or Z-order
  * layout when `ZORDER BY` columns are given; with `WHERE`, only the
  * files whose stats/partition values might match the condition are
  * rewritten — the Delta `OPTIMIZE WHERE` shape, for compacting today's
  * hot partition while the rest of a 100 TB table stays untouched).
  * Returns (files_before, files_after, version). The WHERE condition
  * must be simple stats-prunable conjuncts (`col <op> literal`) — it
  * SELECTS FILES, it never filters rows, so an untranslatable shape
  * refuses rather than silently compacting everything.
  */
final case class ManifestOptimizeCommand(target: Either[String, Seq[String]],
                                         zorderBy: Seq[String],
                                         where: Option[String] = None)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  /** Translate the WHERE text to stats filters: conjuncts of
    * `col <op> literal` (and IN/IS NULL/IS NOT NULL). File-selection
    * semantics make row-level precision unnecessary, but an
    * untranslatable conjunct must refuse — keeping it would compact MORE
    * than asked, silently.
    */
  private def filtersOf(spark: SparkSession, cond: String)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def scala(l: Literal): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType)
    def name(e: Expression): String = e match {
      case UnresolvedAttribute(parts) => parts.mkString(".")
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE WHERE supports bare columns — got $other")
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(spark.sessionState.sqlParser.parseExpression(cond)).map {
      case EqualTo(a, l: Literal) => org.apache.spark.sql.sources.EqualTo(name(a), scala(l))
      case EqualTo(l: Literal, a) => org.apache.spark.sql.sources.EqualTo(name(a), scala(l))
      case GreaterThan(a, l: Literal) => org.apache.spark.sql.sources.GreaterThan(name(a), scala(l))
      case GreaterThanOrEqual(a, l: Literal) => org.apache.spark.sql.sources.GreaterThanOrEqual(name(a), scala(l))
      case LessThan(a, l: Literal) => org.apache.spark.sql.sources.LessThan(name(a), scala(l))
      case LessThanOrEqual(a, l: Literal) => org.apache.spark.sql.sources.LessThanOrEqual(name(a), scala(l))
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        org.apache.spark.sql.sources.In(name(a),
          vs.map(v => scala(v.asInstanceOf[Literal])).toArray)
      case IsNull(a) => org.apache.spark.sql.sources.IsNull(name(a))
      case IsNotNull(a) => org.apache.spark.sql.sources.IsNotNull(name(a))
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE WHERE conjunct '$other' is not a stats-prunable shape " +
          "(col <op> literal / IN / IS [NOT] NULL) — it selects FILES, not " +
          "rows; use ManifestStore.compactWhere for richer Filter shapes")
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    val (b, a, v) = GraftSqlParser.retryingRewrite("OPTIMIZE", root) {
      if (where.isDefined)
        ManifestStore.compactWhere(spark, root, filtersOf(spark, where.get))
      else if (zorderBy.isEmpty) ManifestStore.compact(spark, root)
      else {
        val snap = ManifestStore.latestSnapshot(spark, root).getOrElse(
          throw new java.util.NoSuchElementException(
            s"no committed manifest under $root"))
        val files = math.max(1L,
          (snap.files.map(_.bytes).sum + (128L << 20) - 1) / (128L << 20)).toInt
        ManifestStore.compactZOrdered(spark, root,
          zorderBy.map(org.apache.spark.sql.functions.col), files)
      }
    }
    ident.foreach(t => spark.sessionState.catalog.refreshTable(t))
    Seq(Row(b.toLong, a.toLong, v))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` / `DROP COLUMN a` on a registered
  * graft-manifest table (r14 column mapping): ONE metadata-only manifest
  * commit through [[ManifestStore.renameColumn]]/[[ManifestStore.dropColumn]]
  * — zero data bytes move — then the session catalog's stored schema is
  * updated to the manifest's new logical schema (catalog reads pass the
  * stored schema back through the provider, which verifies the match).
  * Spark's own analyzer refuses both statements on every v1 table, so the
  * intercept shadows nothing; non-manifest providers refuse here with the
  * cause. Renaming a PARTITION column is refused on the SQL surface (the
  * catalog pins partition columns in ways `alterTableDataSchema` cannot
  * follow) — the library API handles that case for path-rooted tables.
  */
final case class ManifestAlterColumnCommand(target: Either[String, Seq[String]],
                                            column: String,
                                            renameTo: Option[String])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, identOpt) = GraftSqlParser.rootOf(spark, target)
    val ident = identOpt.get // identifier-only by construction (parser)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(!meta.partitionColumnNames.contains(column),
      s"cannot ${if (renameTo.isDefined) "rename" else "drop"} partition " +
        s"column '$column' of $ident in SQL — the catalog pins partition " +
        "columns; rewrite the table (or use the library API on a " +
        "path-rooted table)")
    renameTo match {
      case Some(to) => ManifestStore.renameColumn(spark, root, column, to)
      case None => ManifestStore.dropColumn(spark, root, column)
    }
    val snap = ManifestStore.latestSnapshot(spark, root).get
    val logical = ManifestStore.tableSchemaOf(snap)
    // stored catalog layout: data columns first, partition columns last
    // (alterTable, not alterTableDataSchema — the latter refuses renames/
    // drops by design; the manifest commit above is the source of truth)
    val newFull = org.apache.spark.sql.types.StructType(
      logical.fields.filterNot(f => meta.partitionColumnNames.contains(f.name)) ++
        meta.partitionSchema.fields)
    spark.sessionState.catalog.alterTable(meta.copy(schema = newFull))
    spark.sessionState.catalog.refreshTable(ident)
    Seq.empty
  }
}

/** `RESTORE TABLE t [TO] VERSION AS OF n` = one [[ManifestStore.restore]]
  * commit: the live state becomes exactly version `n`'s (files, schema,
  * partitioning, column mapping), zero data bytes move, txn watermarks
  * are kept (streams' resume points never regress). Returns
  * (restored_version, new_version).
  */
final case class ManifestRestoreCommand(target: Either[String, Seq[String]],
                                        toVersion: Long)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_version", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    val v = ManifestStore.restore(spark, root, toVersion)
    ident.foreach(t => spark.sessionState.catalog.refreshTable(t))
    Seq(Row(toVersion, v))
  }
}

/** `DESCRIBE HISTORY t [LIMIT n]` = [[ManifestStore.history]]: one row per
  * resolvable version, newest first.
  */
final case class ManifestHistoryCommand(target: Either[String, Seq[String]],
                                        limit: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", org.apache.spark.sql.types.StringType)(),
    AttributeReference("table_id", org.apache.spark.sql.types.StringType)(),
    AttributeReference("is_checkpoint", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("delta_depth", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("files", LongType, nullable = false)(),
    AttributeReference("live_rows", LongType, nullable = false)(),
    AttributeReference("added_bytes", LongType)(),
    AttributeReference("committed_at", org.apache.spark.sql.types.TimestampType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, _) = GraftSqlParser.rootOf(spark, target)
    ManifestStore.history(spark, root, limit).collect().toSeq
  }
}

/** One `VACUUM` = [[ManifestStore.vacuum]] (drop data unreferenced by
  * every retained manifest AND older than the age guard; prune manifests
  * below the kept snapshots' lowest checkpoint). Returns the number of
  * batch directories deleted.
  */
final case class ManifestVacuumCommand(target: Either[String, Seq[String]],
                                       keepVersions: Option[Int],
                                       retainHours: Option[Long],
                                       dryRun: Boolean = false)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("batches_deleted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, _) = GraftSqlParser.rootOf(spark, target)
    val dropped = ManifestStore.vacuum(spark, root,
      keepVersions = keepVersions.getOrElse(2),
      minAgeMs = retainHours.map(_ * 3600L * 1000L)
        .getOrElse(24L * 3600 * 1000),
      dryRun = dryRun)
    Seq(Row(dropped.toLong))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` =
  * [[ManifestStore.addCheckConstraint]]: existing data is validated
  * first (a violating table refuses with the offending row), then one
  * metadata-only commit records the rule and every later write seam
  * enforces it.
  */
final case class ManifestAddConstraintCommand(target: Either[String, Seq[String]],
                                              name: String, expr: String)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    ManifestStore.addCheckConstraint(spark, root, name, expr)
    ident.foreach(t => spark.sessionState.catalog.refreshTable(t))
    Seq.empty
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` = [[ManifestStore.dropConstraint]]. */
final case class ManifestDropConstraintCommand(target: Either[String, Seq[String]],
                                               name: String)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    ManifestStore.dropConstraint(spark, root, name)
    ident.foreach(t => spark.sessionState.catalog.refreshTable(t))
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET NOT NULL` / `DROP NOT NULL` =
  * [[ManifestStore.setNotNull]] / [[ManifestStore.dropNotNull]].
  */
final case class ManifestNotNullCommand(target: Either[String, Seq[String]],
                                        column: String, set: Boolean)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    if (set) ManifestStore.setNotNull(spark, root, column)
    else ManifestStore.dropNotNull(spark, root, column)
    ident.foreach(t => spark.sessionState.catalog.refreshTable(t))
    Seq.empty
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)` /
  * `UNSET TBLPROPERTIES ('k', ...)` on a graft-manifest table: the
  * MANIFEST is the source of truth (properties travel with the table
  * root, survive time travel, restore and clone); the session catalog's
  * own property map is mirrored best-effort so DESCRIBE TABLE EXTENDED
  * agrees.
  */
final case class ManifestPropertiesCommand(target: Either[String, Seq[String]],
                                           set: Map[String, String],
                                           unset: Seq[String])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, ident) = GraftSqlParser.rootOf(spark, target)
    if (set.nonEmpty) ManifestStore.setProperties(spark, root, set)
    if (unset.nonEmpty) ManifestStore.unsetProperties(spark, root, unset)
    ident.foreach { t =>
      try {
        val cat = spark.sessionState.catalog
        val meta = cat.getTableMetadata(t)
        cat.alterTable(meta.copy(properties = meta.properties ++ set -- unset))
      } catch { case scala.util.control.NonFatal(_) => () } // mirror only
      spark.sessionState.catalog.refreshTable(t)
    }
    Seq.empty
  }
}

/** `CONVERT TO MANIFEST '<path>'` (r15) =
  * [[ManifestStore.convertParquet]]: adopt a plain parquet directory as
  * a manifest table in place — one footer-metadata pass, zero data
  * movement. Returns the committed version (1).
  */
final case class ManifestConvertCommand(path: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestStore.convertParquet(spark, path)))
}

/** `ALTER TABLE t ADD BLOOM INDEX ON (cols) [WITH FPP x]` /
  * `... DROP BLOOM INDEX` (r15) = [[ManifestStore.buildBloomIndex]] /
  * [[ManifestStore.dropBloomIndex]]: the per-file point-lookup pruning
  * tier. `columns` empty = drop. Returns the committed version.
  */
final case class ManifestBloomCommand(target: Either[String, Seq[String]],
                                      columns: Seq[String],
                                      fpp: Option[Double])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, _) = GraftSqlParser.rootOf(spark, target)
    val v =
      if (columns.isEmpty) ManifestStore.dropBloomIndex(spark, root)
      else ManifestStore.buildBloomIndex(spark, root, columns,
        fpp.getOrElse(0.01))
    Seq(Row(v))
  }
}

/** `DESCRIBE DETAIL t` — the one-row table-detail twin of DESCRIBE
  * HISTORY (the Delta shape): format, identity, location, current
  * version and format version, commit time, layout, live size/rows, and
  * the full metadata ring (properties, constraints, column mapping,
  * retired physical names). Everything comes from the current snapshot —
  * O(manifest), no data file is touched.
  */
final case class ManifestDetailCommand(target: Either[String, Seq[String]])
  extends LeafRunnableCommand {

  import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, MapType, StringType, TimestampType}

  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("id", StringType)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("format_version", IntegerType, nullable = false)(),
    AttributeReference("last_modified", TimestampType)(),
    AttributeReference("partition_columns", ArrayType(StringType), nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_in_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType)(),
    AttributeReference("properties", MapType(StringType, StringType), nullable = false)(),
    AttributeReference("constraints", ArrayType(StringType), nullable = false)(),
    AttributeReference("column_mapping", MapType(StringType, StringType), nullable = false)(),
    AttributeReference("dropped_physical", ArrayType(StringType), nullable = false)(),
    AttributeReference("bloom_index", StringType)(),
    AttributeReference("is_checkpoint", BooleanType, nullable = false)(),
    AttributeReference("delta_depth", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, _) = GraftSqlParser.rootOf(spark, target)
    val snap = ManifestStore.latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed manifest under $root"))
    val committedAt = ManifestStore.history(spark, root, 1)
      .select("committed_at").collect().headOption.map(_.getTimestamp(0)).orNull
    val liveRows = snap.files.map(f => f.rows - f.dv.map(_.rows).getOrElse(0L)).sum
    val fmtVersion =
      if (snap.colMap.nonEmpty || snap.droppedPhys.nonEmpty ||
          snap.constraints.nonEmpty || snap.properties.nonEmpty) 3 else 2
    Seq(Row(
      "graft-manifest",
      if (snap.tableId.nonEmpty) snap.tableId else null,
      root,
      snap.version,
      fmtVersion,
      committedAt,
      snap.partCols,
      snap.files.size.toLong,
      snap.files.map(_.bytes).sum,
      liveRows,
      snap.properties,
      snap.constraints.map(c => s"${c.name}: ${c.describe}"),
      snap.colMap,
      snap.droppedPhys,
      snap.bloomIdx.map(ix =>
        s"columns=${ix.columns.mkString(",")} fpp=${ix.fpp} " +
          s"sidecars=${ix.dirs.size}").orNull,
      snap.version == snap.checkpointVersion,
      snap.deltaDepth))
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <newType>` =
  * [[ManifestStore.alterColumnType]] (r15): one metadata-only widening
  * commit — old files read under parquet's native type promotion, the
  * session catalog's stored schema follows.
  */
final case class ManifestAlterTypeCommand(target: Either[String, Seq[String]],
                                          column: String, typeText: String)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, identOpt) = GraftSqlParser.rootOf(spark, target)
    val newType = spark.sessionState.sqlParser.parseDataType(typeText)
    ManifestStore.alterColumnType(spark, root, column, newType)
    identOpt.foreach { ident =>
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      val snap = ManifestStore.latestSnapshot(spark, root).get
      val logical = ManifestStore.tableSchemaOf(snap)
      val newFull = org.apache.spark.sql.types.StructType(
        logical.fields.filterNot(f => meta.partitionColumnNames.contains(f.name)) ++
          meta.partitionSchema.fields)
      spark.sessionState.catalog.alterTable(meta.copy(schema = newFull))
      spark.sessionState.catalog.refreshTable(ident)
    }
    Seq.empty
  }
}
