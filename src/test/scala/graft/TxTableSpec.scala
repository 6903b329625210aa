package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TxParquetTable

class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    Files.createTempDirectory("tx_table_").toFile.getAbsolutePath

  /** `body`'s result and the call site of every job it ran, in start
    * order: "writeParquet at ..." is a Tx write job, "parquet at ..." a
    * schema inference over parquet footers. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // the result stage's name: earlier stages may be reused shuffles
        sites.add(if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.sql.graft.BusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graft.BusDrain.drain(sc)
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def inferences(jobs: Seq[String]): Seq[String] = jobs.filter(_.startsWith("parquet at"))

  /** The `add` entries of every commit in `path`'s log, by file name. */
  private def loggedAdds(path: String): Map[String, com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    new java.io.File(path, "_graft_log").listFiles()
      .filter(f => f.getName.endsWith(".json") && !f.getName.endsWith(".ckpt.json"))
      .flatMap { f =>
        val adds = mapper.readTree(f).get("add")
        (0 until adds.size()).map(i => adds.get(i).get("name").asText() -> adds.get(i))
      }.toMap
  }

  test("append commits atomically and versions advance") {
    val path = freshPath()
    val v0 = TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val v1 = TxParquetTable.append(Seq((3L, "c")).toDF("id", "v"), path)
    assert(v0 === 0L && v1 === 1L)
    assert(TxParquetTable.snapshot(spark, path).count() === 3)
  }

  test("ParquetFooters.tableRowCount refuses a Tx table root with a pointer to the log-only counter (r12 advice)") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // an upsert leaves a removed-but-not-vacuumed file: the naive
    // recursive footer walk would double-count exactly that
    TxParquetTable.upsert(Seq((2L, "b2")).toDF("id", "v"), path, "id")
    val e = intercept[IllegalArgumentException] {
      graft.sources.ParquetFooters.tableRowCount(spark, path)
    }
    assert(e.getMessage.contains("TxParquetTable.rowCount"),
      s"expected a pointer to the log-only counter, got: ${e.getMessage}")
    assert(TxParquetTable.rowCount(path) === Some(2L))
  }

  test("delete removes by id atomically; time travel keeps the past until vacuum (X105)") {
    import spark.implicits._
    val path = freshPath()
    val v0 = TxParquetTable.upsert(
      (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), path, "id", buckets = 8)
    val vDel = TxParquetTable.delete(
      Seq(3L, 7L, 21L, 999L).toDF("id"), path, "id") // 999 absent: vacuous
    assert(vDel > v0)
    val now = TxParquetTable.snapshot(spark, path).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(now === (1L to 40L).toSet -- Set(3L, 7L, 21L))
    // logical delete: the pre-delete version still reads complete
    assert(TxParquetTable.snapshot(spark, path, Some(v0)).count() === 40)
    // CDC classifies exactly the deleted rows
    val cdc = TxParquetTable.changes(spark, path, v0, vDel, "id")
      .filter(col("change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cdc === Set(3L, 7L, 21L))
    // history carries the op marker
    val ops = TxParquetTable.history(spark, path)
      .filter(col("version") === vDel).collect()
    assert(ops.length === 1)
    // GDPR physical erasure = delete + vacuum(retain the delete)
    TxParquetTable.vacuum(path, retainVersion = vDel, retentionMs = 0L)
    val e = intercept[IllegalStateException] {
      TxParquetTable.snapshot(spark, path, Some(v0)).count()
    }
    assert(e.getMessage.contains("no longer fully present"), e.getMessage)
    assert(TxParquetTable.snapshot(spark, path).count() === 37)
  }

  test("delete prunes its rewrite to the target ids' bucket files (X105 scale shape)") {
    import spark.implicits._
    val path = freshPath()
    TxParquetTable.upsert(
      (1L to 1000L).map(i => (i, i * 2)).toDF("id", "x"), path, "id", buckets = 8)
    val before = TxParquetTable.history(spark, path)
    val filesBefore = TxParquetTable.liveFileCount(path)
    val vDel = TxParquetTable.delete(Seq(5L, 6L, 7L).toDF("id"), path, "id")
    // 3 target ids can touch at most 3 of the 8 bucket files; the
    // commit must not have rewritten the rest
    val removedAtDelete = TxParquetTable.history(spark, path)
      .filter(col("version") === vDel)
      .select("n_removed").head().getLong(0)
    assert(removedAtDelete <= 3,
      s"delete must rewrite <= |target buckets| files, rewrote $removedAtDelete of $filesBefore")
    assert(TxParquetTable.snapshot(spark, path).count() === 997)
    assert(before.count() >= 1)
  }

  test("delete on an unkeyed append-only table falls back to zone-map pruning") {
    import spark.implicits._
    val path = freshPath()
    // two appends with DISJOINT id ranges, both zone-mapped on id
    TxParquetTable.append((1L to 100L).map(i => (i, "a")).toDF("id", "v")
      .coalesce(1), path, statsColumns = Seq("id"))
    TxParquetTable.append((1000L to 1100L).map(i => (i, "b")).toDF("id", "v")
      .coalesce(1), path, statsColumns = Seq("id"))
    val vDel = TxParquetTable.delete(Seq(50L, 60L).toDF("id"), path, "id")
    val removed = TxParquetTable.history(spark, path)
      .filter(col("version") === vDel)
      .select("n_removed").head().getLong(0)
    assert(removed === 1,
      s"the high-range file's zone map excludes the targets; rewrote $removed files")
    assert(TxParquetTable.snapshot(spark, path).count() === 199)
    assert(TxParquetTable.snapshot(spark, path)
      .filter(col("id").isin(50L, 60L)).count() === 0)
  }

  test("delete casts caller id types to the table's stored id domain (r17 advice)") {
    import spark.implicits._
    val path = freshPath()
    TxParquetTable.upsert(
      (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), path, "id", buckets = 8)
    // INT targets against a BIGINT-keyed table: pre-fix these hashed to
    // different buckets (xxhash64 of INT != of BIGINT), pruned the
    // wrong files, and the delete silently removed nothing
    val vDel = TxParquetTable.delete(
      Seq(5, 9, 150).toDF("id"), path, "id")
    val now = TxParquetTable.snapshot(spark, path).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(now === (1L to 200L).toSet -- Set(5L, 9L, 150L),
      s"typed-mismatch delete must still remove its targets (v=$vDel)")
    // an unrepresentable target fails loudly, never silently no-ops —
    // either our raise_error guard or (ANSI mode) the cast's own error
    val e = intercept[Exception] {
      TxParquetTable.delete(Seq("not-a-number").toDF("id"), path, "id")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("does not represent") || msgs.toUpperCase.contains("CAST"),
      msgs)
  }

  test("enforceErasure: a due delete's pre-images become unreadable; a young delete keeps its time travel (X108)") {
    import spark.implicits._
    val path = freshPath()
    val v0 = TxParquetTable.upsert(
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), path, "id", buckets = 4)
    val vDel = TxParquetTable.delete(Seq(3L, 8L).toDF("id"), path, "id")
    // not yet due: a large lag budget reports pending and acts NOT
    val young = TxParquetTable.enforceErasure(spark, path, maxLagMs = 3600000L)
      .collect()(0)
    assert(young.getAs[String]("action") === "none" &&
      young.getAs[Long]("n_pending") === 1L, young.toString)
    // time travel still works before the policy is due
    assert(TxParquetTable.snapshot(spark, path, Some(v0)).count() === 100)
    // due now (lag 0): one vacuum erases the pre-images
    val acted = TxParquetTable.enforceErasure(spark, path, maxLagMs = 0L)
      .collect()(0)
    assert(acted.getAs[String]("action") === "vacuum" &&
      acted.getAs[Long]("n_due") === 1L &&
      acted.getAs[Long]("vacuumed_files") >= 1L &&
      acted.getAs[Long]("still_readable_after") === 0L &&
      acted.getAs[Long]("erase_horizon_version") === vDel, acted.toString)
    // the privacy contract: the pre-delete version is gone
    val e = intercept[IllegalStateException] {
      TxParquetTable.snapshot(spark, path, Some(v0)).count()
    }
    assert(e.getMessage.contains("no longer fully present"), e.getMessage)
    // … while the post-delete snapshot reads complete
    assert(TxParquetTable.snapshot(spark, path).count() === 98)
    // idempotent: nothing pending afterwards
    val again = TxParquetTable.enforceErasure(spark, path, maxLagMs = 0L)
      .collect()(0)
    assert(again.getAs[String]("action") === "none" &&
      again.getAs[Long]("n_pending") === 0L, again.toString)
  }

  test("upsert replaces by id, keeps others, and time travel sees the past") {
    val path = freshPath()
    val v0 = TxParquetTable.append(
      Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "v"), path)
    val v1 = TxParquetTable.upsert(
      Seq((2L, "NEW2"), (9L, "NEW9")).toDF("id", "v"), path, "id")
    assert(v1 > v0)
    val now = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now === Map(1L -> "old1", 2L -> "NEW2", 3L -> "old3", 9L -> "NEW9"))
    val past = TxParquetTable.snapshot(spark, path, Some(v0))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(past === Map(1L -> "old1", 2L -> "old2", 3L -> "old3"))
  }

  test("changes: insert/update classified, rewritten-but-identical rows joined out, reverse diff flips") {
    val path = freshPath()
    val v0 = TxParquetTable.append(
      Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "v"), path)
    // the upsert rewrites whole buckets: id 1 and 3 ride along UNCHANGED
    // in whichever buckets 2/9 land in — they must not appear as changes
    val v1 = TxParquetTable.upsert(
      Seq((2L, "NEW2"), (9L, "NEW9")).toDF("id", "v"), path, "id", buckets = 2)
    val fwd = TxParquetTable.changes(spark, path, v0, v1, "id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fwd === Map(2L -> (("NEW2", "update")), 9L -> (("NEW9", "insert"))))
    // reverse diff: the rollback preview — inserts become deletes with
    // the PRE-image (which from v1's perspective is the post-image of v0)
    val rev = TxParquetTable.changes(spark, path, v1, v0, "id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rev === Map(2L -> (("old2", "update")), 9L -> (("NEW9", "delete"))))
    // same-version diff: empty, with the change_type column present
    val none = TxParquetTable.changes(spark, path, v1, v1, "id")
    assert(none.count() === 0 && none.columns.contains("change_type"))
  }

  test("changes: an update that nulls a column surfaces the null, not the pre-image") {
    val path = freshPath()
    val v0 = TxParquetTable.append(
      Seq((1L, Some("x")), (2L, Some("y"))).toDF("id", "v"), path)
    val v1 = TxParquetTable.upsert(
      Seq((1L, Option.empty[String])).toDF("id", "v"), path, "id")
    val ch = TxParquetTable.changes(spark, path, v0, v1, "id").collect()
    assert(ch.length === 1)
    assert(ch.head.getLong(0) === 1L && ch.head.isNullAt(1)
      && ch.head.getString(2) === "update")
  }

  test("changes is log-pruned: a one-bucket upsert on a 16-bucket table scans only the touched files") {
    val path = freshPath()
    val v0 = TxParquetTable.append(
      (0L until 64L).map(i => (i, s"v$i")).toDF("id", "v"), path)
    // establish the 16-bucket scheme, then touch ONE id
    val v1 = TxParquetTable.upsert(
      Seq((999L, "seed")).toDF("id", "v"), path, "id", buckets = 16)
    val v2 = TxParquetTable.upsert(
      Seq((7L, "TOUCHED")).toDF("id", "v"), path, "id", buckets = 16)
    val ch = TxParquetTable.changes(spark, path, v1, v2, "id")
    val scannedFiles = ch.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    val totalLive = TxParquetTable.snapshot(spark, path).inputFiles.length
    assert(scannedFiles < totalLive,
      s"CDC should scan only changed buckets ($scannedFiles vs $totalLive live)")
    assert(ch.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((7L, "TOUCHED", "update")))
  }

  test("snapshotRange: zone maps prune whole files from the log; residual filter keeps it exact") {
    val path = freshPath()
    // three disjoint year slices, stats recorded at write time
    TxParquetTable.append(
      Seq((1L, 1995, "a"), (2L, 1995, "b")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    TxParquetTable.append(
      Seq((3L, 1996, "c")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    TxParquetTable.append(
      Seq((4L, 1997, "d"), (5L, 1998, "e")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    val total = TxParquetTable.snapshot(spark, path).inputFiles.length
    assert(total === 3)
    val pruned = TxParquetTable.snapshotRange(spark, path, "yr", Some(1996), Some(1996))
    assert(pruned.inputFiles.length === 1, "only the 1996 file may be scanned")
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(3L))
    // half-open ranges prune too; the residual keeps the boundary exact
    val ge97 = TxParquetTable.snapshotRange(spark, path, "yr", Some(1997), None)
    assert(ge97.inputFiles.length === 1)
    assert(ge97.collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
    // a range matching nothing reads no data files at all
    val none = TxParquetTable.snapshotRange(spark, path, "yr", Some(2005), None)
    assert(none.inputFiles.isEmpty && none.count() === 0)
    // equality with the unpruned filter, always
    val full = TxParquetTable.snapshot(spark, path)
      .filter(col("yr") >= 1996 && col("yr") <= 1997).collect().map(_.getLong(0)).sorted
    val rp = TxParquetTable.snapshotRange(spark, path, "yr", Some(1996), Some(1997))
      .collect().map(_.getLong(0)).sorted
    assert(full.toSeq === rp.toSeq)
  }

  test("snapshotRange == snapshot+filter for randomized slices and bounds (20 seeds)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val path = freshPath()
      // random number of appends, each a random contiguous value slice
      // (some slices overlap, some files get no stats)
      val nApp = 1 + rnd.nextInt(4)
      (0 until nApp).foreach { _ =>
        val lo = rnd.nextInt(50)
        val hi = lo + rnd.nextInt(30)
        val rows = (lo to hi).map(v => (rnd.nextLong(), v, s"v$v"))
        val withStats = rnd.nextBoolean()
        TxParquetTable.append(rows.toDF("id", "x", "v").coalesce(1), path,
          statsColumns = if (withStats) Seq("x") else Seq.empty)
      }
      val (bl, bu) = (rnd.nextInt(80), rnd.nextInt(80))
      val (lo, hi) = (math.min(bl, bu), math.max(bl, bu))
      val bounds = rnd.nextInt(3) match {
        case 0 => (Some(lo), Some(hi))
        case 1 => (Some(lo), None)
        case _ => (None, Some(hi))
      }
      val ranged = TxParquetTable.snapshotRange(spark, path, "x", bounds._1, bounds._2)
        .select(col("x")).collect().map(_.getInt(0)).sorted.toSeq
      val full = TxParquetTable.snapshot(spark, path)
        .filter(bounds._1.map(l => col("x") >= l).getOrElse(lit(true)) &&
          bounds._2.map(u => col("x") <= u).getOrElse(lit(true)))
        .select(col("x")).collect().map(_.getInt(0)).sorted.toSeq
      assert(ranged === full, s"trial=$trial bounds=$bounds")
    }
  }

  test("zone maps survive upsert and compact: stats columns inherited from the log") {
    val path = freshPath()
    TxParquetTable.append(
      Seq((1L, 1995, "a"), (2L, 1996, "b")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    // the upsert rewrites (stat-less input would previously drop stats)
    TxParquetTable.upsert(
      Seq((3L, 2001, "c")).toDF("id", "yr", "v"), path, "id", buckets = 2)
    TxParquetTable.append(
      Seq((4L, 2010, "d")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    TxParquetTable.compact(spark, path, "id", targetFiles = 1)
    // compact folded to one file per target; stats must still exist so a
    // disjoint range reads nothing
    val none = TxParquetTable.snapshotRange(spark, path, "yr", Some(1800), Some(1900))
    assert(none.inputFiles.isEmpty,
      "post-compact files must carry inherited zone maps")
    val all = TxParquetTable.snapshotRange(spark, path, "yr", Some(1995), Some(2010))
    assert(all.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("zone maps on timestamps: exact-micros bounds, no sub-millisecond truncation") {
    val path = freshPath()
    def ts(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    // one file entirely at 10:00:00.000500-000900 (sub-millisecond band)
    TxParquetTable.append(
      Seq((1L, ts(1700000000000500L)), (2L, ts(1700000000000900L)))
        .toDF("id", "t").coalesce(1),
      path, statsColumns = Seq("t"))
    // an upper bound INSIDE the band but below its min at millis
    // resolution: truncating bound micros downward would prune the file
    // and lose row 1
    val r = TxParquetTable.snapshotRange(spark, path, "t",
      None, Some(ts(1700000000000600L)))
    assert(r.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // and a bound strictly below the band prunes it entirely
    val none = TxParquetTable.snapshotRange(spark, path, "t",
      None, Some(ts(1700000000000400L)))
    assert(none.inputFiles.isEmpty && none.count() === 0)
  }

  test("snapshotRange: stat-less files are conservatively kept, never pruned") {
    val path = freshPath()
    TxParquetTable.append(
      Seq((1L, 1995, "a")).toDF("id", "yr", "v").coalesce(1), path) // NO stats
    TxParquetTable.append(
      Seq((2L, 2001, "b")).toDF("id", "yr", "v").coalesce(1),
      path, statsColumns = Seq("yr"))
    val pruned = TxParquetTable.snapshotRange(spark, path, "yr", Some(1990), Some(1999))
    // the stat-less file must be scanned (it might hold in-range rows —
    // and here it does); the 2001 file is pruned by its zone map
    assert(pruned.inputFiles.length === 1)
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("stale upsert is rejected: interloping commit after the read snapshot") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    val staleRead = TxParquetTable.latestVersion(path)
    // interloper lands between the stale writer's read and its publish
    TxParquetTable.append(Seq((2L, "b")).toDF("id", "v"), path)
    intercept[java.util.ConcurrentModificationException] {
      TxParquetTable.upsert(Seq((1L, "STALE")).toDF("id", "v"), path, "id",
        asOfVersion = Some(staleRead))
    }
    // table unchanged by the failed attempt; a fresh-read upsert succeeds
    val before = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before === Map(1L -> "a", 2L -> "b"))
    TxParquetTable.upsert(Seq((1L, "FRESH")).toDF("id", "v"), path, "id")
    val now = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now === Map(1L -> "FRESH", 2L -> "b"))
  }

  test("streaming tx upsert sink: micro-batches land as atomic upsert commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = freshPath()
    val mem = MemoryStream[(String, Double)]
    val stream = mem.toDF().select(col("_1").as("id"), col("_2").as("px"))
    val q = graft.streaming.Pipelines.txUpsertParquetSink(
      stream, path, freshPath() + "/ckpt", idCol = "id").start()
    try {
      mem.addData(("A", 1.0), ("B", 2.0))
      q.processAllAvailable()
      mem.addData(("A", 9.0), ("C", 3.0)) // A updated, C inserted
      q.processAllAvailable()
      val now = TxParquetTable.snapshot(spark, path)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(now === Map("A" -> 9.0, "B" -> 2.0, "C" -> 3.0))
      // each micro-batch is one commit; the first is still readable
      val v0 = TxParquetTable.snapshot(spark, path, Some(0L))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(v0 === Map("A" -> 1.0, "B" -> 2.0))
    } finally q.stop()
  }

  test("stream txn ids: a retried append is a no-op, progress and other apps still commit") {
    val path = freshPath()
    val v0 = TxParquetTable.append(
      Seq((1L, "a")).toDF("id", "v"), path, txn = Some(("app1", 0L)))
    // the retry of batch 0 (crash-recovery replay): dropped by the log
    val vRetry = TxParquetTable.append(
      Seq((1L, "a")).toDF("id", "v"), path, txn = Some(("app1", 0L)))
    assert(vRetry === v0)
    assert(TxParquetTable.snapshot(spark, path).count() === 1)
    // a STALE batch id is also dropped (recorded max wins, not equality)
    TxParquetTable.append(
      Seq((9L, "stale")).toDF("id", "v"), path, txn = Some(("app1", -1L)))
    assert(TxParquetTable.snapshot(spark, path).count() === 1)
    // batch 1 commits; a different app's batch 0 commits too
    TxParquetTable.append(Seq((2L, "b")).toDF("id", "v"), path, txn = Some(("app1", 1L)))
    TxParquetTable.append(Seq((3L, "c")).toDF("id", "v"), path, txn = Some(("app2", 0L)))
    assert(TxParquetTable.snapshot(spark, path).count() === 3)
    // un-txn'd appends never dedupe
    TxParquetTable.append(Seq((4L, "d")).toDF("id", "v"), path)
    TxParquetTable.append(Seq((4L, "d")).toDF("id", "v"), path)
    assert(TxParquetTable.snapshot(spark, path).count() === 5)
  }

  test("stream txn ids survive a log checkpoint") {
    val path = freshPath()
    // 12 txn'd appends -> versions 0..11, checkpoint at 10; the dedupe
    // check on a replay of batch 3 must resolve THROUGH the checkpoint
    (0 until 12).foreach { i =>
      TxParquetTable.append(
        Seq((i.toLong, s"b$i")).toDF("id", "v"), path, txn = Some(("app", i.toLong)))
    }
    assert(new java.io.File(path, "_graft_log").listFiles()
      .exists(_.getName.endsWith(".ckpt.json")), "expected a checkpoint")
    TxParquetTable.append(
      Seq((3L, "b3")).toDF("id", "v"), path, txn = Some(("app", 3L)))
    assert(TxParquetTable.snapshot(spark, path).count() === 12)
  }

  test("streaming tx append sink: batches are CDC increments with zone maps, txn-stamped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = freshPath()
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().select(col("_1").as("id"), col("_2").as("px"))
    val q = graft.streaming.Pipelines.txAppendParquetSink(
      stream, path, freshPath() + "/ckpt", appId = "ingest-1",
      statsColumns = Seq("px")).start()
    try {
      mem.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      mem.addData((3L, 30.0))
      q.processAllAvailable()
      assert(TxParquetTable.latestVersion(path) === 1L)
      assert(TxParquetTable.snapshot(spark, path).count() === 3)
      // CDC: the second increment is exactly batch 1
      val inc = TxParquetTable.changes(spark, path, 0L, 1L, "id")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("change_type")))
      assert(inc.toSeq === Seq((3L, "insert")))
      // zone maps recorded at write time: a band read prunes to one file
      val band = TxParquetTable.snapshotRange(spark, path, "px", Some(25.0), None)
      assert(band.collect().map(_.getAs[Long]("id")).toSeq === Seq(3L))
      assert(band.inputFiles.length === 1)
      // recovery replay of an already-committed batch: no-op by txn id
      TxParquetTable.append(
        Seq((3L, 30.0)).toDF("id", "px"), path,
        statsColumns = Seq("px"), txn = Some(("ingest-1", 1L)))
      assert(TxParquetTable.snapshot(spark, path).count() === 3)
    } finally q.stop()
  }

  test("streaming tx append sink auto-compacts once the live file count crosses the threshold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = freshPath()
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().select(col("_1").as("id"), col("_2").as("px"))
    val q = graft.streaming.Pipelines.txAppendParquetSink(
      stream, path, freshPath() + "/ckpt", appId = "ingest-ac",
      statsColumns = Seq("px"),
      autoCompact = Some((3, "id", 1))).start()
    try {
      // 4 single-file epochs: the append that lifts live files to >= 3
      // must trigger the sink's own fold down to 1 file (op=compact)
      (0 until 4).foreach { i =>
        mem.addData((i.toLong, i * 10.0)); q.processAllAvailable()
      }
      Option(q.exception.orNull).foreach(throw _)
      assert(TxParquetTable.snapshot(spark, path).count() === 4)
      val h = TxParquetTable.history(spark, path).collect()
      assert(h.exists(_.getAs[Boolean]("is_compact")),
        s"threshold crossed -> an op=compact commit must appear: ${h.toSeq}")
      // the live layout stays under the threshold after the last epoch
      assert(TxParquetTable.liveFileCount(path) <= 3,
        s"live files: ${TxParquetTable.liveFileCount(path)}")
      // content survives the folds exactly
      assert(TxParquetTable.snapshot(spark, path)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    } finally q.stop()
  }

  test("history: one log-derived row per commit with compaction and txn metadata") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1),
      path, txn = Some(("app", 0L)))
    TxParquetTable.upsert(Seq((1L, "A2")).toDF("id", "v"), path, "id")
    TxParquetTable.compact(spark, path, "id", targetFiles = 1)
    val h = TxParquetTable.history(spark, path)
      .collect().map(r => r.getAs[Long]("version") -> r).toMap
    assert(h.keySet === Set(0L, 1L, 2L))
    val v0 = h(0L)
    assert(v0.getAs[Long]("n_added") === 1L && v0.getAs[Long]("n_removed") === 0L)
    assert(!v0.getAs[Boolean]("is_compact"))
    assert(v0.getAs[String]("txn_app") === "app" && v0.getAs[Long]("txn_ver") === 0L)
    val v1 = h(1L) // upsert rewrites the bucket holding id 1: adds and removes
    assert(v1.getAs[Long]("n_added") >= 1L && v1.getAs[Long]("n_removed") >= 1L)
    assert(v1.isNullAt(v1.fieldIndex("txn_app")))
    val v2 = h(2L)
    assert(v2.getAs[Boolean]("is_compact"))
    assert(v2.getAs[Long]("n_removed") >= 1L)
  }

  test("log checkpointing: replay starts from the checkpoint, history stays readable") {
    val path = freshPath()
    // 13 upserts of the same key -> versions 0..12, checkpoints at 10
    (0 until 13).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"v$i")).toDF("id", "v"), path, "id")
    }
    assert(TxParquetTable.latestVersion(path) === 12L)
    val ckpts = new java.io.File(path, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".ckpt.json"))
    assert(ckpts.nonEmpty, "expected a checkpoint at version 10")
    // latest read resolves through the checkpoint
    val now = TxParquetTable.snapshot(spark, path).collect()
    assert(now.length === 1 && now.head.getString(1) === "v12")
    // time travel both before and after the checkpoint
    val v3 = TxParquetTable.snapshot(spark, path, Some(3L)).collect()
    assert(v3.length === 1 && v3.head.getString(1) === "v3")
    val v11 = TxParquetTable.snapshot(spark, path, Some(11L)).collect()
    assert(v11.length === 1 && v11.head.getString(1) === "v11")
  }

  test("vacuum deletes files only below the retained horizon") {
    val path = freshPath()
    (0 until 4).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"v$i")).toDF("id", "v"), path, "id")
    }
    val before = new java.io.File(path, "data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 4)
    // retentionMs = 0: the table is quiesced (no concurrent writers here)
    val deleted = TxParquetTable.vacuum(path, retainVersion = 2L, retentionMs = 0L)
    assert(deleted > 0)
    // versions >= 2 still read; version 0 is gone
    assert(TxParquetTable.snapshot(spark, path, Some(2L)).collect()
      .head.getString(1) === "v2")
    assert(TxParquetTable.snapshot(spark, path).collect().head.getString(1) === "v3")
    intercept[Exception] {
      TxParquetTable.snapshot(spark, path, Some(0L)).collect()
    }
  }

  test("schema guard reads the LOG's column set, not every live footer") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    // evolve: add a column via upsert; go past a checkpoint boundary so
    // the column set must survive snapshot render/parse too
    TxParquetTable.upsert(Seq((1L, "A", 7)).toDF("id", "v", "extra"), path, "id")
    (0 until 10).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"u$i", i)).toDF("id", "v", "extra"), path, "id")
    }
    // the guard still rejects a batch missing an evolved column...
    val e = intercept[IllegalArgumentException] {
      TxParquetTable.upsert(Seq((2L, "narrow")).toDF("id", "v"), path, "id")
    }
    assert(e.getMessage.contains("extra"))
    // ...and its input is recorded in the log: the latest commit's JSON
    // carries the full union column set (no footer read needed)
    val logFiles = new java.io.File(path, "_graft_log").listFiles()
      .filter(f => f.getName.endsWith(".json") && !f.getName.endsWith(".ckpt.json"))
      .sortBy(_.getName)
    val last = new String(Files.readAllBytes(logFiles.last.toPath), "UTF-8")
    assert(last.contains("\"columns\""))
    Seq("id", "v", "extra").foreach(c => assert(last.contains(s"\"$c\""), s"column $c not in log"))
  }

  test("compact heals a legacy (pre-columns) history: columnsReset baseline") {
    // r7 advice: one legacy file-adding commit pinned columnsComplete=false
    // FOREVER — every later upsert paid the O(#live files) footer pass and
    // checkpoints refused to record the (by-then accurate) column set.
    // compact rewrites every live file with full column records, so its
    // commit declares a fresh complete baseline via the columnsReset marker.
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    // simulate a legacy writer: strip the columns record from commit 0
    val logDir = new java.io.File(path, "_graft_log")
    val c0 = new java.io.File(logDir, f"${0L}%020d.json")
    val stripped = new String(Files.readAllBytes(c0.toPath), "UTF-8")
      .replaceAll(""","columns":\[[^\]]*\]""", "")
    assert(!stripped.contains("\"columns\""), "legacy simulation failed")
    Files.write(c0.toPath, stripped.getBytes("UTF-8"))
    (0 until 3).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"u$i"), (2L, "b")).toDF("id", "v"), path, "id")
    }
    // poisoned history: compact (commit 4) must carry the reset marker
    val cv = TxParquetTable.compact(spark, path, "id", targetFiles = 1)
    val compactJson = new String(Files.readAllBytes(
      new java.io.File(logDir, f"$cv%020d.json").toPath), "UTF-8")
    assert(compactJson.contains("\"columnsReset\":true"))
    assert(compactJson.contains("\"columns\""))
    // cross the checkpoint boundary: a healed history checkpoints its
    // column set (an unhealed one refuses — renderSnapshot omits it)
    (cv until TxParquetTable.checkpointInterval).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"p$i"), (2L, "b")).toDF("id", "v"), path, "id")
    }
    val ckpts = logDir.listFiles().filter(_.getName.endsWith(".ckpt.json")).sortBy(_.getName)
    assert(ckpts.nonEmpty, "no checkpoint written")
    val ckptJson = new String(Files.readAllBytes(ckpts.last.toPath), "UTF-8")
    assert(ckptJson.contains("\"columns\""),
      "checkpoint after compact still refuses to record columns — history not healed")
    Seq("id", "v").foreach(c => assert(ckptJson.contains(s"\"$c\"")))
    // and the guard still works off the healed log
    val e = intercept[IllegalArgumentException] {
      TxParquetTable.upsert(Seq((3L, 9)).toDF("id", "extra"), path, "id")
    }
    assert(e.getMessage.contains("missing table columns v"))
  }

  test("reader pinned below the vacuum horizon: loud VERSIONED error, never partial data") {
    val path = freshPath()
    (0 until 4).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"v$i")).toDF("id", "v"), path, "id")
    }
    TxParquetTable.vacuum(path, retainVersion = 2L, retentionMs = 0L)
    // the pinned read fails at SNAPSHOT time with the version named —
    // not at scan time with an opaque missing-path error
    val e = intercept[IllegalStateException] {
      TxParquetTable.snapshot(spark, path, Some(0L))
    }
    assert(e.getMessage.contains("version 0") && e.getMessage.contains("vacuum"))
    // the adversarial conf: ignoreMissingFiles would silently DROP the
    // vacuumed files' rows from a path-listing read; the snapshot-time
    // check must still refuse
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      intercept[IllegalStateException] {
        TxParquetTable.snapshot(spark, path, Some(0L))
      }
    } finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
    // versions at/above the horizon read clean — same data as pre-vacuum
    assert(TxParquetTable.snapshot(spark, path, Some(2L)).collect()
      .head.getString(1) === "v2")
    assert(TxParquetTable.snapshot(spark, path).collect().head.getString(1) === "v3")
  }

  test("vacuum retention window protects staged and freshly committed files") {
    val path = freshPath()
    (0 until 3).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"v$i")).toDF("id", "v"), path, "id")
    }
    // simulate a concurrent writer's staged-but-uncommitted file: present
    // in data/ but referenced by no commit
    val staged = new java.io.File(new java.io.File(path, "data"),
      s"${java.util.UUID.randomUUID()}.parquet")
    Files.write(staged.toPath, Array[Byte](1, 2, 3))
    // default retention: every file is younger than 7 days -> none deleted
    assert(TxParquetTable.vacuum(path, retainVersion = 2L) === 0)
    assert(staged.exists(), "staged file of a concurrent writer must survive vacuum")
    assert(TxParquetTable.snapshot(spark, path, Some(0L)).collect()
      .head.getString(1) === "v0")
  }

  test("vacuum clamps retainVersion above latest instead of deleting everything") {
    val path = freshPath()
    (0 until 3).foreach { i =>
      TxParquetTable.upsert(Seq((1L, s"v$i")).toDF("id", "v"), path, "id")
    }
    // retainVersion far beyond the log must behave like retain-latest,
    // never like retain-nothing
    TxParquetTable.vacuum(path, retainVersion = 999L, retentionMs = 0L)
    assert(TxParquetTable.snapshot(spark, path).collect().head.getString(1) === "v2")
    // and an empty table is a no-op
    assert(TxParquetTable.vacuum(freshPath(), retainVersion = 0L, retentionMs = 0L) === 0)
  }

  test("upsert persists data files without internal bookkeeping columns") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    TxParquetTable.upsert(Seq((1L, "A"), (2L, "b")).toDF("id", "v"), path, "id")
    // the user-visible schema is exactly (id, v) — no __bucket leakage,
    // and appended vs rewritten files are schema-identical on disk
    val snap = TxParquetTable.snapshot(spark, path)
    assert(snap.columns.toSeq === Seq("id", "v"))
    val dataFiles = new java.io.File(path, "data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    dataFiles.foreach { f =>
      val cols = spark.read.parquet(f.getAbsolutePath).columns.toSeq
      assert(cols === Seq("id", "v"), s"unexpected schema $cols in ${f.getName}")
    }
    // bucket stats still recorded in the log (read-free upsert planning)
    val logTxt = new java.io.File(path, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".json")).map(f =>
        new String(Files.readAllBytes(f.toPath))).mkString
    assert(logTxt.contains("\"buckets\":[") && logTxt.matches("(?s).*\"buckets\":\\[\\d.*"),
      "expected non-empty per-file bucket stats in the commit log")
  }

  test("concurrent upsert stress: two writers + racing vacuum, no lost rows") {
    val path = freshPath()
    val rounds = 4
    // two writers upserting their OWN id ranges — semantically disjoint,
    // but 16 hash buckets over 40 ids each means their bucket DOMAINS
    // overlap, so the OCC layer must serialize them via conflicts+retry
    def writer(base: Long, tag: String): Thread = new Thread(() => {
      (1 to rounds).foreach { round =>
        val df = (base until base + 40L).map(id => (id, s"$tag$round")).toDF("id", "v")
        var committed = false
        while (!committed) {
          try { TxParquetTable.upsert(df, path, "id"); committed = true }
          catch { case _: java.util.ConcurrentModificationException => () }
        }
      }
    })
    // vacuum racing the writers: with the default retention window it must
    // never delete anything (all files are fresh) and never throw. A
    // failure inside the thread must fail the TEST — capture and rethrow
    // after join, or the dead thread would pass silently.
    @volatile var stop = false
    @volatile var vacFailure: Throwable = null
    val vac = new Thread(() => {
      try {
        while (!stop) {
          val latest = TxParquetTable.latestVersion(path)
          if (latest >= 0) assert(TxParquetTable.vacuum(path, math.max(0L, latest - 1)) === 0)
          Thread.sleep(20)
        }
      } catch { case t: Throwable => vacFailure = t }
    })
    val a = writer(0L, "A")
    val b = writer(100L, "B")
    vac.start(); a.start(); b.start()
    a.join(); b.join()
    stop = true; vac.join()
    if (vacFailure != null) throw vacFailure

    // every successful upsert is one commit; versions are contiguous
    assert(TxParquetTable.latestVersion(path) === 2L * rounds - 1)
    // no lost rows, and each id holds its writer's LAST round — writer
    // rounds are ordered per thread, so the final state is deterministic
    val now = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.size === 80)
    (0L until 40L).foreach(id => assert(now(id) === s"A$rounds", s"id=$id got ${now(id)}"))
    (100L until 140L).foreach(id => assert(now(id) === s"B$rounds", s"id=$id got ${now(id)}"))
    // post-quiesce vacuum with retention 0 reclaims history; the latest
    // snapshot must be untouched
    assert(TxParquetTable.vacuum(path, TxParquetTable.latestVersion(path),
      retentionMs = 0L) > 0)
    assert(TxParquetTable.snapshot(spark, path).count() === 80)
  }

  test("reader at every version: concurrent three-writer history is fully navigable") {
    // the roadmap's torture shape: after N writers race to a quiesced
    // log, EVERY committed version must be readable via time travel and
    // internally consistent — unique ids, values well-formed, row count
    // non-decreasing (writers only upsert their own ranges, never
    // delete), and the final version holds each writer's LAST round.
    val path = freshPath()
    val rounds = 3
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(base: Long, tag: String): Thread = new Thread(() => {
      try {
        (1 to rounds).foreach { round =>
          val df = (base until base + 20L).map(id => (id, s"$tag$round")).toDF("id", "v")
          var committed = false
          while (!committed) {
            try { TxParquetTable.upsert(df, path, "id"); committed = true }
            catch { case _: java.util.ConcurrentModificationException => () }
          }
        }
      } catch { case t: Throwable => failures.add(t) }
    })
    val ws = Seq(writer(0L, "A"), writer(100L, "B"), writer(200L, "C"))
    ws.foreach(_.start()); ws.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()

    val latest = TxParquetTable.latestVersion(path)
    assert(latest === 3L * rounds - 1, "every successful upsert is one contiguous version")
    val valid = "([ABC])([0-9]+)".r
    var prevCount = 0L
    (0L to latest).foreach { v =>
      val rows = TxParquetTable.snapshot(spark, path, Some(v))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(rows.map(_._1).distinct.length === rows.length,
        s"version $v has duplicate ids")
      rows.foreach { case (id, value) =>
        value match {
          case valid(tag, round) =>
            val expectBase = Map("A" -> 0L, "B" -> 100L, "C" -> 200L)(tag)
            assert(id >= expectBase && id < expectBase + 20L,
              s"version $v: id $id carries $tag's value")
            assert(round.toInt >= 1 && round.toInt <= rounds)
          case _ => fail(s"version $v: malformed value $value for id $id")
        }
      }
      assert(rows.length >= prevCount,
        s"version $v lost rows (${rows.length} < $prevCount) under append-free upserts")
      prevCount = rows.length
    }
    val fin = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin.size === 60)
    Seq(("A", 0L), ("B", 100L), ("C", 200L)).foreach { case (tag, base) =>
      (base until base + 20L).foreach(id =>
        assert(fin(id) === s"$tag$rounds", s"id=$id got ${fin(id)}"))
    }
  }

  test("the log's bucket scheme wins over a caller's mismatched bucket count") {
    val path = freshPath()
    TxParquetTable.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      path, "id", buckets = 8)
    // a later writer configured with a DIFFERENT modulus must not plan
    // against the 8-bucket stats with mod-16 ids (it would miss files and
    // resurrect replaced rows)
    TxParquetTable.upsert(Seq((1L, "A"), (9L, "d")).toDF("id", "v"),
      path, "id", buckets = 16)
    val rows = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length === rows.map(_._1).distinct.length, s"duplicate ids: ${rows.toSeq}")
    assert(rows.toMap === Map(1L -> "A", 2L -> "b", 3L -> "c", 9L -> "d"))
    // compact with yet another count also adopts the established scheme
    TxParquetTable.compact(spark, path, "id", buckets = 4, targetFiles = 1)
    assert(TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "A", 2L -> "b", 3L -> "c", 9L -> "d"))
    val logTxt = new java.io.File(path, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).map(f =>
        new String(Files.readAllBytes(f.toPath)))
    assert(logTxt.forall(!_.contains("\"bucketCount\":16")),
      "established 8-bucket scheme must never be overridden")
    assert(logTxt.exists(_.contains("\"bucketCount\":8")))
  }

  test("compact folds the file set without changing content; history survives until vacuum") {
    val path = freshPath()
    // several appends + an upsert -> many small files, some stat-less
    (0 until 5).foreach { i =>
      TxParquetTable.append(Seq((i * 10L, s"a$i")).toDF("id", "v"), path)
    }
    TxParquetTable.upsert(Seq((10L, "A1"), (99L, "new")).toDF("id", "v"), path, "id")
    val preVersion = TxParquetTable.latestVersion(path)
    val before = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def liveFiles() = {
      val logTxt = TxParquetTable.snapshot(spark, path).inputFiles
      logTxt.length
    }
    assert(liveFiles() > 2)

    val v = TxParquetTable.compact(spark, path, "id", buckets = 16, targetFiles = 2)
    assert(v === preVersion + 1)
    assert(liveFiles() <= 2, s"expected <=2 live files, got ${liveFiles()}")
    val after = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === before)
    // already-compact table: no-op, no new commit
    assert(TxParquetTable.compact(spark, path, "id", targetFiles = 2) === v)
    assert(TxParquetTable.latestVersion(path) === v)
    // the pre-compaction version still reads (files not deleted yet)...
    assert(TxParquetTable.snapshot(spark, path, Some(preVersion))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === before)
    // ...until vacuum reclaims it; the compacted snapshot is untouched
    assert(TxParquetTable.vacuum(path, v, retentionMs = 0L) > 0)
    assert(TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === before)
  }

  test("clusterBy compact: content preserved, zone maps tighten so a band read prunes, upsert still works") {
    val path = freshPath()
    // interleaved appends: every file spans the whole value range
    (0 until 3).foreach { k =>
      val rows = (0 until 300).filter(_ % 3 == k)
        .map(i => (i.toLong, i.toDouble))
      // one file per append (a local Seq would otherwise split into
      // ordered partitions whose files are ALREADY range-contiguous)
      TxParquetTable.append(rows.toDF("id", "price").repartition(1), path,
        statsColumns = Seq("price"))
    }
    def band() = TxParquetTable.snapshotRange(
      spark, path, "price", Some(100.0), Some(120.0))
    val live0 = TxParquetTable.snapshot(spark, path).inputFiles.length
    assert(band().inputFiles.length === live0, "interleaved appends must not prune")
    val before = band().collect().map(_.getLong(0)).toSet

    TxParquetTable.compact(spark, path, "id", targetFiles = 4,
      clusterBy = Some("price"))
    val liveAfter = TxParquetTable.snapshot(spark, path).inputFiles.length
    assert(liveAfter <= 4)
    assert(band().inputFiles.length < liveAfter,
      "range-clustered layout must prune the band read")
    assert(band().collect().map(_.getLong(0)).toSet === before)
    // full content identical across the rewrite
    assert(TxParquetTable.snapshot(spark, path).count() === 300L)
    // a later keyed upsert on the clustered layout stays correct (it
    // rewrites more files — the documented cost — but not wrongly)
    TxParquetTable.upsert(Seq((150L, -1.0)).toDF("id", "price"), path, "id")
    val after = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after(150L) === -1.0 && after.size === 300)
  }

  test("zorderBy compact: BOTH dimensions prune after the rewrite; content exact; 1-D clusterBy would sacrifice one") {
    val path = freshPath()
    // a 32x32 grid of (xv, yv) cells, shuffled by id so every appended
    // file spans the full range of both columns (nothing prunes before)
    val rows = (0 until 1024).map { i =>
      val cell = (i * 2654435761L % 1024).toInt // Knuth-hash scramble
      (i.toLong, (cell % 32).toDouble, (cell / 32).toDouble)
    }
    (0 until 4).foreach { k =>
      TxParquetTable.append(
        rows.filter(_._1 % 4 == k).toDF("id", "xv", "yv").repartition(1),
        path, statsColumns = Seq("xv", "yv"))
    }
    def bandX() = TxParquetTable.snapshotRange(spark, path, "xv", Some(10.0), Some(11.0))
    def bandY() = TxParquetTable.snapshotRange(spark, path, "yv", Some(20.0), Some(21.0))
    val live0 = TxParquetTable.snapshot(spark, path).inputFiles.length
    assert(bandX().inputFiles.length === live0 && bandY().inputFiles.length === live0,
      "shuffled appends must not prune on either dimension")
    val beforeX = bandX().collect().map(_.getLong(0)).toSet
    val beforeY = bandY().collect().map(_.getLong(0)).toSet

    TxParquetTable.compact(spark, path, "id", targetFiles = 16,
      zorderBy = Seq("xv", "yv"))
    val live = TxParquetTable.snapshot(spark, path).inputFiles.length
    // the Z-curve guarantee: a narrow band on EITHER dimension
    // intersects ~sqrt(files) of the layout, not all of it
    assert(bandX().inputFiles.length < live,
      s"x band must prune (${bandX().inputFiles.length} of $live)")
    assert(bandY().inputFiles.length < live,
      s"y band must prune (${bandY().inputFiles.length} of $live)")
    assert(bandX().collect().map(_.getLong(0)).toSet === beforeX)
    assert(bandY().collect().map(_.getLong(0)).toSet === beforeY)
    assert(TxParquetTable.snapshot(spark, path).count() === 1024L)
  }

  test("zorderBy compact: a constant column degenerates gracefully to 1-D layout") {
    val path = freshPath()
    val rows = (0 until 200).map(i => (i.toLong, 7.0, (i % 50).toDouble))
    TxParquetTable.append(rows.toDF("id", "xv", "yv").repartition(1), path,
      statsColumns = Seq("xv", "yv"))
    TxParquetTable.compact(spark, path, "id", targetFiles = 4,
      zorderBy = Seq("xv", "yv"))
    // constant xv scales to 0 everywhere: the layout is effectively a
    // range cluster on yv, and a yv band must still prune
    val live = TxParquetTable.snapshot(spark, path).inputFiles.length
    val band = TxParquetTable.snapshotRange(spark, path, "yv", Some(0.0), Some(10.0))
    assert(band.inputFiles.length < live)
    assert(TxParquetTable.snapshot(spark, path).count() === 200L)
  }

  test("zorderBy compact: THREE columns all prune on one layout (N-D generalization)") {
    val path = freshPath()
    // a 16x16x16 grid of (xv, yv, zv) cells, Knuth-scrambled by id so
    // every appended file spans the full range of all three columns
    val rows = (0 until 4096).map { i =>
      val cell = (i * 2654435761L % 4096).toInt
      (i.toLong, (cell % 16).toDouble, (cell / 16 % 16).toDouble,
        (cell / 256).toDouble)
    }
    (0 until 4).foreach { k =>
      TxParquetTable.append(
        rows.filter(_._1 % 4 == k).toDF("id", "xv", "yv", "zv").repartition(1),
        path, statsColumns = Seq("xv", "yv", "zv"))
    }
    def band(c: String) = TxParquetTable.snapshotRange(spark, path, c, Some(5.0), Some(5.0))
    val live0 = TxParquetTable.snapshot(spark, path).inputFiles.length
    Seq("xv", "yv", "zv").foreach(c =>
      assert(band(c).inputFiles.length === live0,
        s"shuffled appends must not prune on $c"))
    val before = Seq("xv", "yv", "zv").map(c =>
      c -> band(c).collect().map(_.getLong(0)).toSet).toMap

    TxParquetTable.compact(spark, path, "id", targetFiles = 32,
      zorderBy = Seq("xv", "yv", "zv"))
    val live = TxParquetTable.snapshot(spark, path).inputFiles.length
    // the N-D Z-curve guarantee: a single-value predicate on ANY of the
    // three dimensions intersects ~files^(2/3), not the whole layout
    Seq("xv", "yv", "zv").foreach { c =>
      assert(band(c).inputFiles.length < live,
        s"$c band must prune (${band(c).inputFiles.length} of $live)")
      assert(band(c).collect().map(_.getLong(0)).toSet === before(c),
        s"$c band content must be exact across the rewrite")
    }
    assert(TxParquetTable.snapshot(spark, path).count() === 4096L)
  }

  test("zorderBy compact: k=2 under the N-D interleave keeps the historical bit layout (q216 regression pin)") {
    // column j's bit b lands at position k*b+j: at k=2 that is x->2b,
    // y->2b+1 — the exact pre-generalization layout. Pin the arithmetic
    // itself (a layout change would silently reshuffle every Z-ordered
    // table's file boundaries even with content preserved).
    def interleave2(x: Long, y: Long): Long =
      (0 until 16).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1)))
        .reduce(_ | _)
    assert(interleave2(0xFFFFL, 0L) === 0x55555555L)
    assert(interleave2(0L, 0xFFFFL) === 0xAAAAAAAAL)
    assert(interleave2(0x3L, 0x1L) === 7L)
  }

  test("zorderBy compact: an all-null column degenerates to 0 instead of NPE (r13 advice)") {
    val path = freshPath()
    val rows = (0 until 200).map(i =>
      (i.toLong, Option.empty[Double], (i % 50).toDouble))
    TxParquetTable.append(rows.toDF("id", "xv", "yv").repartition(1), path,
      statsColumns = Seq("yv"))
    // all-null xv: bounds agg yields null min/max — must fall back to
    // the constant-column path (scale to 0), not throw
    TxParquetTable.compact(spark, path, "id", targetFiles = 4,
      zorderBy = Seq("xv", "yv"))
    val live = TxParquetTable.snapshot(spark, path).inputFiles.length
    val band = TxParquetTable.snapshotRange(spark, path, "yv", Some(0.0), Some(10.0))
    assert(band.inputFiles.length < live)
    assert(TxParquetTable.snapshot(spark, path).count() === 200L)
  }

  test("racing appends from multiple threads all land with distinct versions") {
    val path = freshPath()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        TxParquetTable.append(Seq((i.toLong, s"w$i")).toDF("id", "v"), path)
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TxParquetTable.latestVersion(path) === 3L)
    val rows = TxParquetTable.snapshot(spark, path).collect()
    assert(rows.length === 4)
    assert(rows.map(_.getString(1)).toSet === Set("w0", "w1", "w2", "w3"))
  }

  test("schema evolution: appends may add nullable columns; old files read as null") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("txevolve").toString
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // widened append: a new column the first file doesn't have
    TxParquetTable.append(Seq((3L, "c", 9.5)).toDF("id", "v", "score"), path)
    val snap = TxParquetTable.snapshot(spark, path)
    assert(snap.columns.toSet === Set("id", "v", "score"))
    val byId = snap.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(2L).isNullAt(2))  // pre-evolution rows
    assert(byId(3L).getDouble(2) === 9.5)
    // time travel BEFORE the evolution sees the narrow schema
    val v0 = TxParquetTable.snapshot(spark, path, Some(0L))
    assert(v0.columns.toSet === Set("id", "v"))
  }

  test("snapshot: the log carries the schema, so no read infers it, widened and time-travelled too") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val (first, jobs) = jobsOf(TxParquetTable.snapshot(spark, path))
    assert(jobs.isEmpty, s"a snapshot read ran jobs: $jobs")
    assert(first.as[(Long, String)].collect().sorted === Array((1L, "a"), (2L, "b")))
    // a widened append: the log's schema gains the column
    TxParquetTable.append(Seq((3L, "c", 9.5)).toDF("id", "v", "score"), path)
    val (wide, wideJobs) = jobsOf(TxParquetTable.snapshot(spark, path))
    assert(wideJobs.isEmpty, s"a widened read ran jobs: $wideJobs")
    assert(wide.columns.toSeq === Seq("id", "v", "score"))
    assert(wide.filter(col("score").isNull).count() === 2L)
    // time travel reads the narrow version's schema from its commit
    val (narrow, pinned) = jobsOf(TxParquetTable.snapshot(spark, path, Some(0L)))
    assert(pinned.isEmpty && narrow.schema === first.schema)
  }

  test("schema evolution survives upsert and compact (no silent column loss)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("txevolve2").toString
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // widened UPSERT against narrow files: survivors gain null score
    TxParquetTable.upsert(Seq((2L, "b2", 7.5), (3L, "c", 9.5)).toDF("id", "v", "score"),
      path, "id", buckets = 4)
    val afterUpsert = TxParquetTable.snapshot(spark, path)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(afterUpsert.keySet === Set(1L, 2L, 3L))
    assert(afterUpsert(2L).getAs[Double]("score") === 7.5)
    assert(afterUpsert(1L).isNullAt(afterUpsert(1L).fieldIndex("score")))
    // compaction of the mixed-schema live set must NOT drop the column
    TxParquetTable.compact(spark, path, "id", targetFiles = 1)
    val afterCompact = TxParquetTable.snapshot(spark, path)
    assert(afterCompact.columns.toSet === Set("id", "v", "score"))
    val rows = afterCompact.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(3L).getAs[Double]("score") === 9.5)
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("score")))
  }

  test("graft_tx SQL table function: current snapshot, time travel, joins like any relation") {
    // the shared spec session predates the extensions — register through
    // the same builder GraftExtensions injects
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_tx"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        TxParquetTable.getClass.getName, "graft_tx"),
      GraftExtensions.graftTxBuilder)

    val path = freshPath()
    val v0 = TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    TxParquetTable.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), path, "id")

    val now = spark.sql(s"SELECT id, v FROM graft_tx('$path') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now === Seq((1L, "a"), (2L, "B2"), (3L, "c")))

    val past = spark.sql(s"SELECT id, v FROM graft_tx('$path', $v0) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(past === Seq((1L, "a"), (2L, "b")))

    // composes like any relation: joins, aggregates, the works
    val joined = spark.sql(
      s"""SELECT n.id, n.v AS now_v, p.v AS then_v
          FROM graft_tx('$path') n LEFT JOIN graft_tx('$path', $v0) p USING (id)
          WHERE n.v <> coalesce(p.v, '') ORDER BY n.id""").collect()
    assert(joined.map(_.getLong(0)).toSeq === Seq(2L, 3L))

    // non-literal args are rejected with the function's own message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_tx(concat('$path', id))").collect()
    }
    assert(e.getMessage.contains("string literal") || e.getMessage.contains("graft_tx"))
  }

  test("graft_tx_range SQL table function: pruned band read, open bound, version pin") {
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_tx_range"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        TxParquetTable.getClass.getName, "graft_tx_range"),
      GraftExtensions.graftTxRangeBuilder)

    val path = freshPath()
    (0 until 3).foreach { k =>
      val rows = (0 until 300).filter(_ % 3 == k).map(i => (i.toLong, i.toDouble))
      TxParquetTable.append(rows.toDF("id", "price").repartition(1), path,
        statsColumns = Seq("price"))
    }
    val preVersion = TxParquetTable.latestVersion(path)
    TxParquetTable.compact(spark, path, "id", targetFiles = 4,
      clusterBy = Some("price"))

    val band = spark.sql(
      s"SELECT id FROM graft_tx_range('$path', 'price', 100.0D, 120.0D) ORDER BY id")
    assert(band.collect().map(_.getLong(0)).toSeq === (100L to 120L))
    assert(band.inputFiles.length <
      TxParquetTable.snapshot(spark, path).inputFiles.length)

    // open lower bound: everything at or below 10
    val open = spark.sql(
      s"SELECT count(*) AS n FROM graft_tx_range('$path', 'price', NULL, 10.0D)")
      .collect().head.getLong(0)
    assert(open === 11L)

    // version pin: the pre-compaction (unclustered) snapshot still reads
    val past = spark.sql(
      s"SELECT count(*) AS n FROM graft_tx_range('$path', 'price', 100.0D, 120.0D, $preVersion)")
      .collect().head.getLong(0)
    assert(past === 21L)

    // both bounds NULL is snapshot() — rejected with the operator's message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_tx_range('$path', 'price', NULL, NULL)").collect()
    }
    assert(e.getMessage.contains("snapshot"), e.getMessage)
  }

  test("graft_tx_changes SQL table function: CDC between versions composes as a relation") {
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_tx_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        TxParquetTable.getClass.getName, "graft_tx_changes"),
      GraftExtensions.graftTxChangesBuilder)

    val path = freshPath()
    val v0 = TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val v1 = TxParquetTable.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), path, "id")

    val ch = spark.sql(
      s"""SELECT change_type, count(*) AS n
          FROM graft_tx_changes('$path', $v0, $v1, 'id')
          GROUP BY change_type ORDER BY change_type""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch === Seq(("insert", 1L), ("update", 1L)))
  }

  test("restore: metadata-only rollback as a new commit; history and forward versions survive") {
    val path = freshPath()
    val v0 = TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val v1 = TxParquetTable.upsert(Seq((2L, "B2"), (9L, "c")).toDF("id", "v"), path, "id")
    val v2 = TxParquetTable.append(Seq((5L, "d")).toDF("id", "v"), path)
    val v3 = TxParquetTable.restore(path, v0)
    assert(v3 === v2 + 1)
    def content(ver: Long) = TxParquetTable.snapshot(spark, path, Some(ver))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // current state == v0; the rolled-back versions stay time-travelable
    assert(content(v3) === Map(1L -> "a", 2L -> "b"))
    assert(content(v1) === Map(1L -> "a", 2L -> "B2", 9L -> "c"))
    assert(content(v2) === Map(1L -> "a", 2L -> "B2", 9L -> "c", 5L -> "d"))
    // log-only row count agrees across the restore
    assert(TxParquetTable.rowCount(path) === Some(2L))
    // history: restore is its own op, never a compact
    val h = TxParquetTable.history(spark, path)
      .collect().map(r => r.getAs[Long]("version") -> r).toMap
    assert(h.keySet === Set(0L, 1L, 2L, 3L))
    assert(h(v3).getAs[String]("op") === "restore")
    assert(!h(v3).getAs[Boolean]("is_compact"))
    // restore FORWARD to v2 (re-adds files the first restore removed)
    val v4 = TxParquetTable.restore(path, v2)
    assert(content(v4) === content(v2))
    // restoring to the current state is a no-op
    assert(TxParquetTable.restore(path, v4) === v4)
    // vacuum away everything below the current state: a restore whose
    // target files are gone must fail LOUDLY, never publish a commit
    // pointing at missing data
    TxParquetTable.vacuum(path, retainVersion = v4, retentionMs = 0L)
    val e = intercept[IllegalStateException] {
      TxParquetTable.restore(path, v0)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("restore narrows a schema evolution and conflicts with concurrent writes by full domain") {
    val path = freshPath()
    val v0 = TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    TxParquetTable.append(Seq((2L, "b", 7.5)).toDF("id", "v", "extra"), path)
    assert(TxParquetTable.snapshot(spark, path).columns.toSet === Set("id", "v", "extra"))
    val v2 = TxParquetTable.restore(path, v0)
    // the evolved column is gone from the restored state's schema
    assert(TxParquetTable.snapshot(spark, path).columns.toSet === Set("id", "v"))
    // and the schema guard accepts an upsert WITHOUT the rolled-back column
    TxParquetTable.upsert(Seq((1L, "a2")).toDF("id", "v"), path, "id")
    assert(TxParquetTable.snapshot(spark, path).collect().map(_.getString(1)).toSeq === Seq("a2"))
    assert(v2 > v0)
  }

  test("rowCount reads exact counts from the log through append/upsert/compact/checkpoint/vacuum") {
    val path = freshPath()
    // 12 commits -> crosses the version-10 checkpoint, so the folded
    // snapshot's numRecords must survive checkpoint serialization
    val versions = (0 until 12).map { i =>
      if (i % 3 == 2)
        TxParquetTable.upsert(Seq((i.toLong, s"u$i"), (999L, s"k$i")).toDF("id", "v"),
          path, "id")
      else
        TxParquetTable.append(Seq((100L + i, s"a$i"), (200L + i, s"b$i"))
          .toDF("id", "v"), path)
    }
    versions.foreach { v =>
      val fromLog = TxParquetTable.rowCount(path, Some(v))
      val scanned = TxParquetTable.snapshot(spark, path, Some(v)).count()
      assert(fromLog === Some(scanned), s"log count diverges at version $v")
    }
    // compact rewrites every file; counts stay exact afterwards
    val vc = TxParquetTable.compact(spark, path, "id", targetFiles = 2)
    assert(TxParquetTable.rowCount(path, Some(vc)) ===
      Some(TxParquetTable.snapshot(spark, path, Some(vc)).count()))
    // vacuum deletes pre-compaction DATA; the log-only count still answers
    TxParquetTable.vacuum(path, retainVersion = vc, retentionMs = 0L)
    assert(TxParquetTable.rowCount(path) ===
      Some(TxParquetTable.snapshot(spark, path).count()))
    // history's n_records names each commit's added-row mass from the log
    val h = TxParquetTable.history(spark, path)
      .collect().map(r => r.getAs[Long]("version") -> r).toMap
    assert(h(0L).getAs[Long]("n_records") === 2L)
    assert(h(vc).getAs[Long]("n_records") ===
      TxParquetTable.snapshot(spark, path, Some(vc)).count())
  }

  test("snapshotRange coerces bounds per stats domain: fractional/Date bounds on long-tagged columns") {
    val path = freshPath()
    val df = Seq(
      (1L, 1994, java.sql.Date.valueOf("1994-03-01")),
      (2L, 1995, java.sql.Date.valueOf("1995-06-15")),
      (3L, 1996, java.sql.Date.valueOf("1996-09-30")),
      (4L, 1997, java.sql.Date.valueOf("1997-12-31"))).toDF("id", "y", "d")
    (0 until 4).foreach { i =>
      TxParquetTable.append(df.filter(col("id") === (i + 1).toLong), path,
        statsColumns = Seq("y", "d"))
    }
    // fractional Double bound against the integer column: rows with
    // y in [1994.5, 1996.5] are exactly {1995, 1996} — no raw
    // NumberFormatException at prune time (r11 advice)
    val frac = TxParquetTable.snapshotRange(spark, path, "y",
      Some(1994.5), Some(1996.5))
      .collect().map(_.getAs[Int]("y")).sorted
    assert(frac === Array(1995, 1996))
    // java.sql.Date bound against the date column (stats domain: epoch
    // days): the same two middle rows
    val dates = TxParquetTable.snapshotRange(spark, path, "d",
      Some(java.sql.Date.valueOf("1995-01-01")),
      Some(java.sql.Date.valueOf("1996-12-31")))
      .collect().map(_.getAs[Int]("y")).sorted
    assert(dates === Array(1995, 1996))
    // an un-coercible bound fails with the named-domain message, not a
    // raw parse exception
    val e = intercept[IllegalArgumentException] {
      TxParquetTable.snapshotRange(spark, path, "y", Some("nineteen-ninety"), None)
        .collect()
    }
    assert(e.getMessage.contains("stats domain"), e.getMessage)
  }

  test("upsert(newerWins): stale and tie updates keep the stored row, newer wins, in-batch dups reduce to the max") {
    val path = freshPath()
    def state = TxParquetTable.snapshot(spark, path)
      .select("id", "ver", "x").as[(Long, Long, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    TxParquetTable.upsert(
      Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c")).toDF("id", "ver", "x"),
      path, "id", buckets = 4, newerWins = Some("ver"))
    // newer wins; stale ignored; tie keeps stored
    TxParquetTable.upsert(
      Seq((1L, 11L, "A"), (2L, 9L, "STALE"), (3L, 10L, "TIE"))
        .toDF("id", "ver", "x"),
      path, "id", buckets = 4, newerWins = Some("ver"))
    assert(state === Map(1L -> ((11L, "A")), 2L -> ((10L, "b")), 3L -> ((10L, "c"))))
    // an in-batch stale/fresh pair reduces to the batch max BEFORE the
    // merge; a null version always loses to a non-null stored row
    TxParquetTable.upsert(
      Seq((1L, Some(13L), "FRESH"), (1L, Some(12L), "mid"),
        (2L, Option.empty[Long], "NULLVER")).toDF("id", "ver", "x"),
      path, "id", buckets = 4, newerWins = Some("ver"))
    assert(state === Map(1L -> ((13L, "FRESH")), 2L -> ((10L, "b")), 3L -> ((10L, "c"))))
    // plain replace-by-key (newerWins = None) still regresses — the
    // contract difference this parameter exists for
    TxParquetTable.upsert(
      Seq((1L, 1L, "regressed")).toDF("id", "ver", "x"),
      path, "id", buckets = 4)
    assert(state(1L) === ((1L, "regressed")))
  }

  private def stageDirs(paths: Seq[String]): Seq[String] =
    paths.flatMap(p => Option(new java.io.File(p).listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith(".stage-"))

  private def dataFiles(path: String): Set[String] =
    Option(new java.io.File(path, "data").listFiles()).toSeq.flatten.map(_.getName).toSet

  test("appendLanes: one write, one commit per lane; log numRecords equal each lane's rows") {
    val root = freshPath()
    val lanes = Seq("a", "b", "c").map(l => l -> s"$root/$l")
    val df = spark.range(0, 100).repartition(4)
      .withColumn("lane", when(col("id") % 10 === 0, "a")
        .when(col("id") % 10 < 4, "b").otherwise("c"))
    val vs = TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("lanes-app", 0L)))
    assert(vs === Seq(0L, 0L, 0L))
    val want = Map("a" -> 10L, "b" -> 30L, "c" -> 60L)
    lanes.foreach { case (l, p) =>
      assert(TxParquetTable.rowCount(p) === Some(want(l)), l)
      val snap = TxParquetTable.snapshot(spark, p)
      assert(snap.columns.toSeq === Seq("id"), "the lane column is not persisted")
      assert(snap.count() === want(l))
    }
    assert(stageDirs(lanes.map(_._2)).isEmpty)
    // a row whose lane has no table fails loudly and leaves nothing staged
    val e = intercept[IllegalArgumentException] {
      TxParquetTable.appendLanes(df.withColumn("lane", lit("z")), "lane", lanes)
    }
    assert(e.getMessage.contains("z"))
    assert(stageDirs(lanes.map(_._2)).isEmpty)
    assert(lanes.forall { case (_, p) => TxParquetTable.latestVersion(p) === 0L })
  }

  test("appendLanes: a lane whose txn is recorded is skipped and keeps no staged file") {
    val root = freshPath()
    val lanes = Seq("x", "y").map(l => l -> s"$root/$l")
    val df = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "lane")
    // a partial commit: only x landed under (app, 7)
    TxParquetTable.append(Seq(1L).toDF("id"), lanes.head._2, txn = Some(("app", 7L)))
    val xFiles = dataFiles(lanes.head._2)
    val vs = TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("app", 7L)))
    assert(vs === Seq(0L, 0L))
    assert(dataFiles(lanes.head._2) === xFiles, "the skipped lane gained a file")
    assert(TxParquetTable.snapshot(spark, lanes.head._2).count() === 1L)
    assert(TxParquetTable.rowCount(lanes(1)._2) === Some(2L))
    // a full replay is a no-op on every lane
    assert(TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("app", 7L))) === vs)
    assert(lanes.forall { case (_, p) => TxParquetTable.latestVersion(p) === 0L })
    assert(stageDirs(lanes.map(_._2)).isEmpty)
  }

  test("appendLanes: an empty lane commits its txn with no file and reads with its columns") {
    val root = freshPath()
    val lanes = Seq("full", "empty").map(l => l -> s"$root/$l")
    val df = Seq((1L, "v1", "full"), (2L, "v2", "full")).toDF("id", "v", "lane")
    val vs = TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("app", 0L)))
    val empty = lanes(1)._2
    assert(vs === Seq(0L, 0L))
    assert(dataFiles(empty).isEmpty && TxParquetTable.rowCount(empty) === Some(0L))
    assert(TxParquetTable.recordedTxn(empty, "app") === Some(0L))
    // the same schema a read of the full lane's files returns
    val fileSchema = TxParquetTable.snapshot(spark, lanes.head._2).schema
    assert(fileSchema.fieldNames.toSeq === Seq("id", "v"))
    val read = TxParquetTable.snapshot(spark, empty)
    assert(read.schema === fileSchema)
    assert(read.filter(col("v") === "v1").count() === 0L)
    // the schema survives a log checkpoint
    (1 to TxParquetTable.checkpointInterval).foreach { e =>
      TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("app", e.toLong)))
    }
    assert(new java.io.File(empty, s"_graft_log/${"%020d".format(
      TxParquetTable.checkpointInterval.toLong)}.ckpt.json").exists())
    assert(TxParquetTable.snapshot(spark, empty).schema === fileSchema)
    assert(TxParquetTable.rowCount(lanes.head._2) ===
      Some(2L * (TxParquetTable.checkpointInterval + 1)))
    // once a file lands, the files carry the schema
    TxParquetTable.append(Seq((9L, "v9")).toDF("id", "v"), empty)
    val landed = TxParquetTable.snapshot(spark, empty)
    assert(landed.schema === fileSchema, "the schema changed when the first row landed")
    assert(landed.as[(Long, String)].collect() === Array((9L, "v9")))
  }

  test("appendLanes: a failed commit leaves no staged file in the lanes after it") {
    val root = freshPath()
    val lanes = Seq("a", "b", "c").map(l => l -> s"$root/$l")
    // lane a's log directory is a dangling link: its commit fails after
    // every lane's files were moved into its table
    new java.io.File(lanes.head._2).mkdirs()
    Files.createSymbolicLink(java.nio.file.Paths.get(lanes.head._2, TxParquetTable.LogDirName),
      java.nio.file.Paths.get(root, "missing"))
    val df = spark.range(0, 30).withColumn("lane",
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b").otherwise("c"))
    intercept[java.nio.file.NoSuchFileException] {
      TxParquetTable.appendLanes(df, "lane", lanes, txn = Some(("app", 0L)))
    }
    lanes.tail.foreach { case (l, p) =>
      assert(dataFiles(p).isEmpty, s"lane $l kept files no commit references")
      assert(TxParquetTable.latestVersion(p) === -1L)
    }
    assert(stageDirs(lanes.map(_._2)).isEmpty)
  }

  test("one job per write: a shuffle-free append is exactly one job; upsert, delete and compact infer nothing and end with their write") {
    val path = freshPath()
    val (_, appendJobs) = jobsOf(TxParquetTable.append(spark.range(0, 200).toDF("id")
      .withColumn("v", col("id") * 2), path, statsColumns = Seq("v")))
    assert(appendJobs.size === 1 && appendJobs.head.startsWith("writeParquet at"), appendJobs)
    val ops = Seq[(String, () => Long)](
      "upsert" -> (() => TxParquetTable.upsert(
        Seq((5L, 50L), (500L, 1L)).toDF("id", "v"), path, "id", buckets = 4)),
      "delete" -> (() => TxParquetTable.delete(Seq(7L, 9L).toDF("id"), path, "id")),
      "compact" -> (() => TxParquetTable.compact(spark, path, "id", targetFiles = 1,
        clusterBy = Some("v"))))
    ops.foreach { case (op, run) =>
      val (_, jobs) = jobsOf(run())
      assert(inferences(jobs).isEmpty, s"$op inferred a schema: $jobs")
      assert(jobs.lastOption.exists(_.startsWith("writeParquet at")),
        s"$op ran a job after its write (a stats pass): $jobs")
    }
    val (snap, readJobs) = jobsOf(TxParquetTable.snapshot(spark, path))
    assert(readJobs.isEmpty, readJobs)
    assert(snap.count() === 200L - 2 + 1)
    assert(TxParquetTable.rowCount(path) === Some(199L))
  }

  test("write-time stats equal the data files': numRecords, bucket sets and zone maps per file") {
    val path = freshPath()
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456")
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 7 == 0) None else Some(i % 50), i * 0.25 - 20,
        if (i % 11 == 0) null else f"s$i%03d", java.sql.Date.valueOf("2024-01-01").toLocalDate
          .plusDays(i % 90), new java.sql.Timestamp(ts.getTime + i * 1000L), Option.empty[Long])
    }
    val df = rows.toDF("id", "n", "x", "s", "d", "t", "allnull").repartition(3)
    val statsCols = Seq("id", "n", "x", "s", "d", "t", "allnull")
    TxParquetTable.append(df, path, statsColumns = statsCols)
    TxParquetTable.upsert(rows.take(40).map(r => r.copy(_3 = -1.5)).toDF(
      "id", "n", "x", "s", "d", "t", "allnull"), path, "id", buckets = 8)
    val adds = loggedAdds(path)
    val dataDir = new java.io.File(path, "data")
    val live = dataDir.listFiles().filter(f => adds.contains(f.getName))
    assert(live.length === adds.size)
    def domain(c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case org.apache.spark.sql.types.DateType => unix_date(col(c))
      case org.apache.spark.sql.types.IntegerType => col(c).cast("long")
      case _ => col(c)
    }
    live.foreach { f =>
      val add = adds(f.getName)
      val fileDf = spark.read.parquet(f.getAbsolutePath)
      val r = fileDf.agg(count(lit(1)), (collect_set(pmod(xxhash64(col("id")), lit(8)).cast("int")) +:
        statsCols.flatMap(c => Seq(min(domain(c)), max(domain(c))))): _*).head()
      assert(add.get("numRecords").asLong() === r.getLong(0), f.getName)
      val logged = (0 until add.get("buckets").size()).map(add.get("buckets").get(_).asInt())
      // appended files carry no bucket set; rewritten ones carry theirs
      if (logged.nonEmpty) assert(logged === r.getSeq[Int](1).sorted, f.getName)
      statsCols.zipWithIndex.foreach { case (c, i) =>
        val st = Option(add.get("stats")).flatMap(s => Option(s.get(c)))
        if (r.isNullAt(2 + 2 * i)) assert(st.isEmpty, s"${f.getName} $c: an all-null column has no zone map")
        else {
          assert(st.isDefined, s"${f.getName} $c has no zone map")
          assert(st.get.get("mn").asText() === r.get(2 + 2 * i).toString, s"${f.getName} $c min")
          assert(st.get.get("mx").asText() === r.get(3 + 2 * i).toString, s"${f.getName} $c max")
        }
      }
    }
    assert(live.exists(f => adds(f.getName).get("buckets").size() > 0), "no rewritten file")
  }

  test("a log written before commits carried the schema reads with one inference, and the next write records it") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    TxParquetTable.append(Seq((2L, "b", 7.5)).toDF("id", "v", "extra"), path)
    // a legacy writer recorded no schema (and no column list)
    new java.io.File(path, "_graft_log").listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val legacy = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll(""","columns":\[[^\]]*\]""", "")
        .replaceAll(""","schema":"(\\.|[^"\\])*"""", "")
      assert(!legacy.contains("\"schema\"") && !legacy.contains("\"columns\""), legacy)
      Files.write(f.toPath, legacy.getBytes("UTF-8"))
    }
    val (legacyRead, jobs) = jobsOf(TxParquetTable.snapshot(spark, path))
    assert(inferences(jobs).size === 1, jobs)
    assert(legacyRead.columns.toSeq === Seq("id", "v", "extra"))
    assert(legacyRead.filter(col("extra").isNull).count() === 1L)
    // the next write records the table's full schema; reads stop inferring
    TxParquetTable.append(Seq((3L, "c", 1.0)).toDF("id", "v", "extra"), path)
    val (healed, healedJobs) = jobsOf(TxParquetTable.snapshot(spark, path))
    assert(healedJobs.isEmpty, healedJobs)
    assert(healed.as[(Long, String, Option[Double])].collect().sortBy(_._1) ===
      Array((1L, "a", None), (2L, "b", Some(7.5)), (3L, "c", Some(1.0))))
  }

  /** `TxParquetTable.append(slow, path)` with `interloper` run after the
    * append has read the log and before it publishes: `slow`'s rows
    * pass a gate that holds the write until `interloper` returns. */
  private def appendRacing(slow: org.apache.spark.sql.DataFrame, path: String)(
      interloper: => Unit): scala.util.Try[Long] = {
    TxTableSpec.Gate.arm()
    val hold = udf { (id: Long) => TxTableSpec.Gate.pass(); id }.asNondeterministic()
    val held = slow.withColumn("id", hold(col("id")))
    var result: scala.util.Try[Long] = null
    val writer = new Thread(() => { result = scala.util.Try(TxParquetTable.append(held, path)) })
    writer.start()
    try {
      assert(TxTableSpec.Gate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the held append never started writing")
      interloper
    } finally TxTableSpec.Gate.release.countDown()
    writer.join()
    result
  }

  test("racing appends: a narrow append published after a widening one keeps the new column") {
    val path = freshPath()
    TxParquetTable.append(Seq((1L, "a")).toDF("id", "v"), path)
    // the narrow append reads the log at version 0; the widening one lands first
    val narrow = appendRacing(Seq((2L, "b")).toDF("id", "v"), path) {
      TxParquetTable.append(Seq((3L, "c", 9.5)).toDF("id", "v", "x"), path)
    }
    assert(narrow.get === 2L)
    val snap = TxParquetTable.snapshot(spark, path)
    assert(snap.columns.toSeq === Seq("id", "v", "x"))
    assert(snap.as[(Long, String, Option[Double])].collect().sortBy(_._1) ===
      Array((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    // a binary that predates the schema record reads `columns`: the
    // narrow commit's list carries x too
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cols = mapper.readTree(new java.io.File(path, f"_graft_log/${2L}%020d.json")).get("columns")
    assert((0 until cols.size()).map(cols.get(_).asText()) === Seq("id", "v", "x"))
    // the upsert guard still requires x, and compact keeps it
    val e = intercept[IllegalArgumentException] {
      TxParquetTable.upsert(Seq((4L, "d")).toDF("id", "v"), path, "id")
    }
    assert(e.getMessage.contains("missing table columns x"))
    TxParquetTable.compact(spark, path, "id", targetFiles = 1)
    assert(TxParquetTable.snapshot(spark, path).filter(col("x") === 9.5).count() === 1L)
    // a concurrent commit that recorded another type for a column fails
    // the append, which keeps no file
    val before = dataFiles(path)
    val clash = appendRacing(Seq((5L, "e", "text")).toDF("id", "v", "y"), path) {
      TxParquetTable.append(Seq((6L, "f", 1.5)).toDF("id", "v", "y"), path)
    }
    assert(clash.failed.get.isInstanceOf[java.util.ConcurrentModificationException], clash)
    assert((dataFiles(path) -- before).size === 1, "the losing append kept its file")
    val after = TxParquetTable.snapshot(spark, path)
    assert(after.schema("y").dataType === org.apache.spark.sql.types.DoubleType)
    assert(after.as[(Long, String, Option[Double], Option[Double])].collect().map(_._1).sorted ===
      Array(1L, 2L, 3L, 6L))
  }
}

object TxTableSpec {
  /** Holds the rows of one write until the test lets them go. The write
    * task reaches it through this object, never through a serialized
    * copy, so both sides share the latches (local mode). */
  object Gate {
    @volatile var entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = new java.util.concurrent.CountDownLatch(1)
    def arm(): Unit = {
      entered = new java.util.concurrent.CountDownLatch(1)
      release = new java.util.concurrent.CountDownLatch(1)
    }
    def pass(): Unit = {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}
