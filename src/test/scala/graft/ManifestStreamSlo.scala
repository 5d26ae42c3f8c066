package graft

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ManifestStore => M}

/** Streaming-endpoint SLO (r12): what does the ENGINE cost per trigger,
  * and what does the span walk cost to construct across a
  * maintenance-bearing backlog?
  *
  *  - catch-up arms: a 30-commit backlog consumed as ONE batch vs PAGED
  *    at maxVersionsPerTrigger=1 (30 micro-batches) — the paged total
  *    minus the one-batch total, over 29, is the marginal engine cost per
  *    micro-batch (offset log + commit log + batch planning);
  *  - idle-restart arm: AvailableNow with nothing new — the fixed floor a
  *    scheduled restart pays;
  *  - walk arm: readChangesSince CONSTRUCTION time over a 400-version range,
  *    pure-append (one span, zero interior resolutions) vs with one
  *    mid-range compaction (bisected boundary search + 2 spans), plus one
  *    full execution for the answer's sanity.
  *
  * `Test/runMain graft.ManifestStreamSlo` (or tools/run.sh); numbers land
  * in SCALE.md.
  */
object ManifestStreamSlo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate(8)
    import spark.implicits._

    def fresh(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-mss-$tag").toString
    def wallMs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def runOnce(src: String, dst: String, ckpt: String,
                options: Map[String, String] = Map.empty): Unit = {
      val q = spark.readStream.format("graft-manifest").options(options).load(src)
        .writeStream.format("graft-manifest")
        .option("appId", "slo").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
    }

    // ---- catch-up arms: 30 one-row commits -----------------------------
    val nCommits = 30
    val src = fresh("src")
    (0 until nCommits).foreach(i =>
      M.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "payload"), src))
    val (dst1, ck1) = (fresh("dst1"), fresh("ck1"))
    val oneBatch = wallMs(runOnce(src, dst1, ck1))
    val (dst2, ck2) = (fresh("dst2"), fresh("ck2"))
    val paged = wallMs(runOnce(src, dst2, ck2,
      Map("maxVersionsPerTrigger" -> "1")))
    require(M.latestSnapshot(spark, dst2).get.version == nCommits.toLong,
      "paged run must land one destination version per source commit")
    val idle = (0 until 3).map(_ => wallMs(runOnce(src, dst1, ck1))).min
    println(f"STREAMSLO catchup commits=$nCommits one_batch=${oneBatch / 1000}%.2fs " +
      f"paged=${paged / 1000}%.2fs per_trigger_marginal=" +
      f"${(paged - oneBatch) / (nCommits - 1)}%.0fms idle_restart=${idle / 1000}%.2fs")

    // ---- walk arm: 400 versions, construction cost ---------------------
    def buildTable(withCompact: Boolean): String = {
      val root = fresh(if (withCompact) "walkc" else "walk")
      (0 until 200).foreach(i =>
        M.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "payload"), root))
      if (withCompact) M.compact(spark, root, targetFileBytes = 1L << 30): Unit
      (200 until 400).foreach(i =>
        M.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "payload"), root))
      root
    }
    val pure = buildTable(withCompact = false)
    val mixed = buildTable(withCompact = true)
    // warm the snapshot caches equally (one resolution each)
    M.latestSnapshot(spark, pure); M.latestSnapshot(spark, mixed)
    def p50(reps: Int)(f: => Unit): Double =
      (0 until reps).map(_ => wallMs(f)).sorted.apply(reps / 2)
    val consPure = p50(9) { M.readChangesSince(spark, pure, 1L): Unit }
    val consMixed = p50(9) { M.readChangesSince(spark, mixed, 1L): Unit }
    val n = M.readChangesSince(spark, mixed, 1L)._2.count()
    require(n == 399L, s"walk answer wrong: $n") // 399 appends after v1
    println(f"STREAMSLO walk versions=400 construct_pure_append=${consPure}%.0fms " +
      f"construct_with_compaction=${consMixed}%.0fms (bisected boundary; " +
      f"pure range is a single span with zero interior resolutions)")

    // ---- admission arm (r13, VERDICT r12 #2): a deep byte-budgeted
    // catch-up's ADMISSION walk must cost the same on a 100k-entry table
    // as on a 100-entry one — each version's added bytes come from its own
    // commit record (`addbytes=`), one O(increment) manifest parse, never
    // a per-version file-set materialization. Build a WIDE table from a
    // synthetic checkpoint (admission never opens data files) and a narrow
    // twin, stack the same 20-commit backlog on each, and time the raw
    // latestOffset walk (cold caches per rep via distinct from-offsets is
    // not possible — report cold-first + steady p50 instead).
    def syntheticWide(nEntries: Int): String = {
      val root = fresh(s"wide$nEntries")
      val seed = fresh("wseed")
      M.append(spark, Seq((0L, "p")).toDF("id", "payload"), seed)
      val fs = new org.apache.hadoop.fs.Path(seed)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$seed/_manifests/v${"%020d".format(1)}.manifest"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val lines = text.split("\n").toSeq
      val headerLines = lines.takeWhile(l => !l.contains("\t") || l.startsWith("txn="))
      val entryLine = lines.find(l => l.contains("\t") && !l.startsWith("txn=")
        && !l.startsWith("checksum=")).get
      val entryPath = entryLine.takeWhile(_ != '\t')
      val body = new StringBuilder
      headerLines.foreach(l => body.append(l).append('\n'))
      for (i <- 0 until nEntries)
        body.append(entryLine.replace(entryPath, s"file:/tbl/part-$i.parquet"))
          .append('\n')
      val sum = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        body.toString.getBytes("UTF-8"))
      val fsN = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsN.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
      val out = fsN.create(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/v${"%020d".format(1)}.manifest"), false)
      out.write((body.toString + s"checksum=$sum\n").getBytes("UTF-8")); out.close()
      val hint = fsN.create(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/_latest"), true)
      hint.write("1".getBytes("UTF-8")); hint.close()
      root
    }
    def admissionWall(root: String, backlog: Int): (Double, Double) = {
      (0 until backlog).foreach(i =>
        M.append(spark, Seq((i.toLong, s"b$i")).toDF("id", "payload"), root))
      val snap = M.latestSnapshot(spark, root).get
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.StringType)))
      val sourceStream = new graft.streaming.ManifestStreamSource(
        spark, root, changeFeed = false, 1L, None, Some(Long.MaxValue), schema)
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      def walk(): Unit = require(
        graft.streaming.ManifestSourceOffset.versionOf(sourceStream.latestOffset(
          graft.streaming.ManifestSourceOffset(1L), ReadLimit.allAvailable()))
          == snap.version)
      val cold = wallMs(walk())
      val steady = p50(9)(walk())
      (cold, steady)
    }
    val backlog = 20
    val (coldN, steadyN) = admissionWall(syntheticWide(100), backlog)
    val (coldW, steadyW) = admissionWall(syntheticWide(100000), backlog)
    println(f"STREAMSLO admission backlog=$backlog entries=100 cold=${coldN}%.0fms " +
      f"steady_p50=${steadyN}%.1fms | entries=100000 cold=${coldW}%.0fms " +
      f"steady_p50=${steadyW}%.1fms (flat ratio=${coldW / coldN}%.2fx)")

    spark.stop()
  }
}
