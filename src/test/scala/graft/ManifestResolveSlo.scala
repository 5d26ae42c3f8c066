package graft

/** Snapshot-RESOLUTION SLO for the manifest store's `_latest` pointer
  * (r11, VERDICT r10 #2): accrue ≥1,000 committed versions on one table
  * and measure `latestSnapshot` latency at growing version counts, hinted
  * (the production path: hint read + forward probe + head manifest) vs
  * unhinted (the pre-r11 path: full `_manifests/` listing + name parse).
  * The hinted arm must stay FLAT as versions accrue — on an object store
  * the unhinted arm is O(versions) LIST pages per micro-batch, the exact
  * cost a week-long streaming sink multiplies by ~100k.
  * `Test/runMain graft.ManifestResolveSlo [nVersions]`; numbers land in
  * SCALE.md.
  */
object ManifestResolveSlo {
  def main(args: Array[String]): Unit = {
    val nVersions = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = GraftSession.getOrCreate(8)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-mrslo").toString

    def timeMs(reps: Int)(f: => Unit): Double = {
      val lats = (0 until reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      lats(lats.size / 2) // p50
    }

    val checkpoints = Seq(10, 100, nVersions).distinct.sorted
    var committed = 0
    for (cp <- checkpoints) {
      while (committed < cp) {
        graft.sources.ManifestStore.append(spark,
          Seq((committed.toLong, s"v$committed")).toDF("id", "payload"), root)
        committed += 1
      }
      val hinted = timeMs(50) {
        require(graft.sources.ManifestStore
          .latestSnapshot(spark, root).get.version == cp.toLong)
      }
      val unhinted = timeMs(50) {
        require(graft.sources.ManifestStore
          .latestSnapshotUnhinted(spark, root).get.version == cp.toLong)
      }
      println(f"MANIFESTRESOLVE versions=$cp%5d hinted_p50=$hinted%.2fms " +
        f"unhinted_p50=$unhinted%.2fms ratio=${unhinted / hinted}%.2fx")
    }

    // --- entry-count arm (r12, VERDICT r11 #3 "measure first"): the head
    // manifest is one text line per live file, driver-parsed per
    // resolution. 100 TB at 128 MB files ≈ 800k entries. Build SYNTHETIC
    // manifests from a real committed entry line (same stats meta shape;
    // resolution never opens data files) and measure latestSnapshot at
    // growing entry counts.
    val seed = java.nio.file.Files.createTempDirectory("graft-mrslo-e").toString
    graft.sources.ManifestStore.append(spark,
      spark.range(0, 1000).select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit("payload-string").as("payload")), seed)
    val seedFs = new org.apache.hadoop.fs.Path(seed)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seedBytes = {
      val in = seedFs.open(new org.apache.hadoop.fs.Path(
        s"$seed/_manifests/v${"%020d".format(1)}.manifest"))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close(); out.toString("UTF-8")
    }
    val seedLines = seedBytes.split("\n").toSeq
    val headerLines = seedLines.takeWhile(l => !l.contains("\t") || l.startsWith("txn="))
    val entryLine = seedLines.find(l => l.contains("\t") && !l.startsWith("txn=")
      && !l.startsWith("checksum=")).get
    val entryPath = entryLine.takeWhile(_ != '\t')
    val maxEntries = args.lift(1).map(_.toInt).getOrElse(300000)
    for (nEntries <- Seq(1000, 10000, 100000, 300000, 800000)
         if nEntries <= maxEntries) {
      val rootN = java.nio.file.Files.createTempDirectory(s"graft-mrslo-$nEntries").toString
      val body = new StringBuilder
      headerLines.foreach(l => body.append(l).append('\n'))
      for (i <- 0 until nEntries)
        body.append(entryLine.replace(entryPath, s"file:/tbl/part-$i.parquet")).append('\n')
      val sum = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        body.toString.getBytes("UTF-8"))
      val fsN = new org.apache.hadoop.fs.Path(rootN)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsN.mkdirs(new org.apache.hadoop.fs.Path(s"$rootN/_manifests"))
      val out = fsN.create(new org.apache.hadoop.fs.Path(
        s"$rootN/_manifests/v${"%020d".format(1)}.manifest"), false)
      out.write((body.toString + s"checksum=$sum\n").getBytes("UTF-8")); out.close()
      val hint = fsN.create(new org.apache.hadoop.fs.Path(s"$rootN/_manifests/_latest"), true)
      hint.write("1".getBytes("UTF-8")); hint.close()
      val bytes = body.length + 64
      // cold = first resolution in this JVM (one full parse — linear in
      // entries); steady = every later resolution (snapshot cache hit:
      // hint read + probe + getFileStatus, O(1) in entries)
      val t0 = System.nanoTime()
      require(graft.sources.ManifestStore.latestSnapshot(spark, rootN)
        .get.files.size == nEntries)
      val cold = (System.nanoTime() - t0) / 1e6
      val steady = timeMs(25) { // .version, not files.size — List.size is
        // itself O(entries) and would masquerade as resolution cost
        require(graft.sources.ManifestStore.latestSnapshot(spark, rootN)
          .get.version == 1L)
      }
      println(f"MANIFESTENTRIES entries=$nEntries%7d manifest_bytes=$bytes%10d " +
        f"cold_ms=$cold%.1f steady_p50=$steady%.2fms")

      // r13 delta-chain arm: stack a near-interval chain of delta commits
      // on the wide checkpoint and measure COLD resolution of the head —
      // one O(entries) checkpoint parse + chain-apply + O(delta) parses
      // (the replay a periodic checkpoint bounds); steady stays the cache
      // hit. clearCachesForTest gives fresh-JVM behavior per rep.
      val chain = graft.sources.ManifestLog.checkpointInterval - 2
      val batch = spark.range(0, 5).select(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit("payload-string").as("payload"))
      (0 until chain).foreach(_ =>
        graft.sources.ManifestStore.append(spark, batch, rootN))
      val coldChain = (0 until 3).map { _ =>
        graft.sources.ManifestLog.clearCachesForTest()
        val t = System.nanoTime()
        require(graft.sources.ManifestStore.latestSnapshot(spark, rootN)
          .get.version == 1L + chain)
        (System.nanoTime() - t) / 1e6
      }.min
      val steadyChain = timeMs(25) {
        require(graft.sources.ManifestStore.latestSnapshot(spark, rootN)
          .get.version == 1L + chain)
      }
      println(f"MANIFESTCHAIN entries=$nEntries%7d deltas=$chain " +
        f"cold_replay_ms=$coldChain%.1f steady_p50=$steadyChain%.2fms")
    }
    spark.stop()
  }
}
