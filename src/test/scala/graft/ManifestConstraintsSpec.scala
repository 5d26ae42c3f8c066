package graft

import org.apache.spark.sql.functions._

import graft.sources.{ManifestLog, ManifestStore}

/** Write-path constraints (r15, VERDICT r14 #1): NOT NULL and CHECK as
  * manifest-carried invariants, enforced inside the write pass on every
  * seam that lands new or modified row values — a violating batch
  * refuses the WHOLE commit loudly with the first offending row
  * rendered, and no version is committed. Plus table properties
  * (VERDICT r14 #5): opaque user metadata on metadata-only commits.
  */
class ManifestConstraintsSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private val M = ManifestStore

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft-constraints").toString

  private def frame(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"p$i", i % 4)).toDF("id", "payload", "grp")

  test("CHECK refuses a violating append loudly — no version committed, row rendered") {
    val root = freshRoot()
    M.append(spark, frame(0, 10), root)
    M.addCheckConstraint(spark, root, "grp_domain", "grp >= 0 AND grp < 4")
    val vBefore = M.latestSnapshot(spark, root).get.version
    val e = intercept[IllegalStateException] {
      M.append(spark, Seq((100L, "bad", 9)).toDF("id", "payload", "grp"), root)
    }
    assert(e.getMessage.contains("CHECK (grp >= 0 AND grp < 4)") &&
      e.getMessage.contains("grp_domain") && e.getMessage.contains("\"grp\":9"),
      s"refusal must name the constraint and render the row: ${e.getMessage}")
    assert(M.latestSnapshot(spark, root).get.version == vBefore,
      "a refused batch must not commit a version")
    assert(M.read(spark, root).count() == 10L)
    // a valid batch still lands
    M.append(spark, Seq((100L, "ok", 3)).toDF("id", "payload", "grp"), root)
    assert(M.read(spark, root).count() == 11L)
  }

  test("NOT NULL: null value refuses; a batch OMITTING the column refuses up front") {
    val root = freshRoot()
    M.append(spark, frame(0, 5), root)
    M.setNotNull(spark, root, "payload")
    val eNull = intercept[IllegalStateException] {
      M.append(spark, Seq((10L, null: String, 0)).toDF("id", "payload", "grp"), root)
    }
    assert(eNull.getMessage.contains("NOT NULL payload"), eNull.getMessage)
    val eOmit = intercept[IllegalArgumentException] {
      M.append(spark, Seq((11L, 1)).toDF("id", "grp"), root)
    }
    assert(eOmit.getMessage.contains("omits column payload"), eOmit.getMessage)
    // NULL passes a CHECK (SQL standard) but not a NOT NULL
    M.dropNotNull(spark, root, "payload")
    M.append(spark, Seq((12L, null: String, 0)).toDF("id", "payload", "grp"), root)
    assert(M.read(spark, root).count() == 6L)
  }

  test("ADD refuses when EXISTING data violates; NULL passes CHECK per SQL") {
    val root = freshRoot()
    M.append(spark, Seq((1L, "a", 0), (2L, null: String, 7))
      .toDF("id", "payload", "grp"), root)
    val e = intercept[IllegalStateException] {
      M.addCheckConstraint(spark, root, "grp_small", "grp < 5")
    }
    assert(e.getMessage.contains("existing data violates") &&
      e.getMessage.contains("\"grp\":7"), e.getMessage)
    // a CHECK over the null column passes (null = unknown = not FALSE)
    M.addCheckConstraint(spark, root, "payload_len", "length(payload) > 0")
    // and the null row still appends: CHECK lets NULL through
    M.append(spark, Seq((3L, null: String, 1)).toDF("id", "payload", "grp"), root)
    val eEmpty = intercept[IllegalStateException] {
      M.append(spark, Seq((4L, "", 1)).toDF("id", "payload", "grp"), root)
    }
    assert(eEmpty.getMessage.contains("payload_len"), eEmpty.getMessage)
  }

  test("enforced on MoR upsert and SQL UPDATE, not only plain appends") {
    val root = freshRoot()
    new java.io.File(root).delete()
    M.append(spark, frame(0, 8), root)
    M.addCheckConstraint(spark, root, "grp_domain", "grp BETWEEN 0 AND 3")
    val e1 = intercept[IllegalStateException] {
      M.upsertByKeyMergeOnRead(spark, root,
        Seq((2L, "upd", 99)).toDF("id", "payload", "grp"), Seq("id"))
    }
    assert(e1.getMessage.contains("grp_domain"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      M.upsertByKey(spark, root,
        Seq((2L, "upd", -1)).toDF("id", "payload", "grp"), Seq("id"))
    }
    assert(e2.getMessage.contains("grp_domain"), e2.getMessage)
    // SQL UPDATE through the registered table enforces too
    spark.sql("DROP TABLE IF EXISTS cons_t")
    spark.sql(s"CREATE TABLE cons_t USING `graft-manifest` OPTIONS (path '$root')")
    val e3 = intercept[Exception] {
      spark.sql("UPDATE cons_t SET grp = 42 WHERE id = 3")
    }
    assert(e3.getMessage.contains("grp_domain"), e3.getMessage)
    spark.sql("DROP TABLE IF EXISTS cons_t")
    // nothing landed: table unchanged
    val df = M.read(spark, root)
    assert(df.count() == 8L && df.where(col("grp") > 3 || col("grp") < 0).isEmpty)
    // a VALID MoR upsert still works under the constraint
    M.upsertByKeyMergeOnRead(spark, root,
      Seq((2L, "upd", 3)).toDF("id", "payload", "grp"), Seq("id"))
    assert(M.read(spark, root).where(col("id") === 2L)
      .select("grp").as[Int].head() == 3)
  }

  test("constraints survive RENAME (mapping-aware) and refuse DROP of a referenced column") {
    val root = freshRoot()
    M.append(spark, frame(0, 6), root)
    M.addCheckConstraint(spark, root, "grp_domain", "grp < 4")
    M.setNotNull(spark, root, "payload")
    M.renameColumn(spark, root, "grp", "bucket")
    M.renameColumn(spark, root, "payload", "body")
    val cs = M.latestSnapshot(spark, root).get.constraints
    assert(cs.exists(c => c.kind == "check" && c.target.contains("bucket")),
      s"CHECK expression must re-render under the new name: $cs")
    assert(cs.exists(c => c.kind == "notnull" && c.target == "body"), cs.toString)
    // still enforced, under the NEW logical names
    val e = intercept[IllegalStateException] {
      M.append(spark, Seq((20L, "x", 9)).toDF("id", "body", "bucket"), root)
    }
    assert(e.getMessage.contains("bucket"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      M.append(spark, Seq((21L, null: String, 1)).toDF("id", "body", "bucket"), root)
    }
    assert(e2.getMessage.contains("NOT NULL body"), e2.getMessage)
    // dropping a constrained column refuses, naming the constraint
    val e3 = intercept[IllegalArgumentException] {
      M.dropColumn(spark, root, "bucket")
    }
    assert(e3.getMessage.contains("grp_domain"), e3.getMessage)
    M.dropConstraint(spark, root, "grp_domain")
    M.dropColumn(spark, root, "bucket") // now fine
    assert(M.read(spark, root).columns.toSeq == Seq("id", "body"))
  }

  test("constraints and properties survive COLD delta-chain resolution and clone") {
    val root = freshRoot()
    M.append(spark, frame(0, 5), root)
    M.addCheckConstraint(spark, root, "ids_pos", "id >= 0")
    M.setProperties(spark, root, Map("owner" -> "pipeline-a", "pii" -> "false"))
    val seeded = M.latestSnapshot(spark, root).get
    ManifestLog.clearCachesForTest()
    val cold = M.latestSnapshot(spark, root).get
    assert(cold.constraints == seeded.constraints && cold.constraints.nonEmpty,
      s"cold=${cold.constraints} seeded=${seeded.constraints}")
    assert(cold.properties == seeded.properties &&
      cold.properties == Map("owner" -> "pipeline-a", "pii" -> "false"))
    // dropping the constraint is itself a RESET-class delta: cold again
    M.dropConstraint(spark, root, "ids_pos")
    M.unsetProperties(spark, root, Seq("pii", "absent-key"))
    ManifestLog.clearCachesForTest()
    val cold2 = M.latestSnapshot(spark, root).get
    assert(cold2.constraints.isEmpty, cold2.constraints.toString)
    assert(cold2.properties == Map("owner" -> "pipeline-a"))
    // a shallow clone carries both
    M.setProperties(spark, root, Map("tier" -> "gold"))
    M.addCheckConstraint(spark, root, "ids_pos", "id >= 0")
    val dst = freshRoot(); new java.io.File(dst).delete()
    M.cloneShallow(spark, root, dst)
    val cSnap = M.latestSnapshot(spark, dst).get
    assert(cSnap.constraints.map(_.name) == Seq("ids_pos"))
    assert(cSnap.properties == Map("owner" -> "pipeline-a", "tier" -> "gold"))
    // and the clone ENFORCES them independently
    intercept[IllegalStateException] {
      M.append(spark, Seq((-1L, "x", 0)).toDF("id", "payload", "grp"), dst)
    }
  }

  test("streaming sink enforces constraints exactly like batch appends") {
    val root = freshRoot()
    M.append(spark, frame(0, 4), root)
    M.addCheckConstraint(spark, root, "grp_domain", "grp < 4")
    // appendBatch is the foreachBatch/stream-sink primitive
    val e = intercept[IllegalStateException] {
      M.appendBatch(spark, Seq((50L, "x", 11)).toDF("id", "payload", "grp"),
        root, "sink-app", 1L)
    }
    assert(e.getMessage.contains("grp_domain"), e.getMessage)
    // the refused batch did NOT advance the watermark: the same id retries
    M.appendBatch(spark, Seq((50L, "x", 2)).toDF("id", "payload", "grp"),
      root, "sink-app", 1L)
    assert(M.read(spark, root).count() == 5L)
  }

  test("addCheckConstraint refuses unknown columns and unparseable expressions") {
    val root = freshRoot()
    M.append(spark, frame(0, 3), root)
    val e = intercept[IllegalArgumentException] {
      M.addCheckConstraint(spark, root, "typo", "grop >= 0")
    }
    assert(e.getMessage.contains("grop"), e.getMessage)
    intercept[Exception] { M.addCheckConstraint(spark, root, "broken", "grp >=") }
    intercept[IllegalArgumentException] {
      M.addCheckConstraint(spark, root, "dup", "grp >= 0")
      M.addCheckConstraint(spark, root, "dup", "grp >= 0")
    }
  }
}
