package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** INCREMENTAL TABLE REPLICATION (X111) — commit-log shipping between
  * Tx tables: apply every source commit the replica has not seen, in
  * version order, each as ONE txn-guarded commit on the replica. The
  * disaster-recovery / region-migration op a 100 TB lakehouse runs on
  * a schedule: cost per run is O(new commits' data), never O(table) —
  * planning is a log read, the cursor is the replica's own recorded
  * stream-transaction state (no side files, checkpoint-loss-safe), and
  * a re-run or a crash-resume is a log-level no-op for every version
  * already applied.
  *
  * Commit classification (the graft-tx-stream append-mode rules,
  * applied to a TABLE target instead of a stream):
  *   - APPEND commits copy exactly the files the source log says the
  *     commit added — never a source snapshot scan.
  *   - COMPACT / Z-order commits are LAYOUT-ONLY (rewrite, same rows):
  *     skipped; the replica compacts on its own schedule.
  *   - DELETE commits re-derive the deleted ids from the source CDC
  *     ([[TxParquetTable.changes]]) and apply a keyed [[TxParquetTable
  *     .delete]] on the replica (requires `idCol`).
  *   - Other data-CHANGING commits (restore, upsert rewrites) FAIL
  *     LOUDLY by version and op: an upsert-maintained table should be
  *     replicated by re-running its maintenance against the replica
  *     (the txn ids make that exactly-once), and a restore is an
  *     operator decision the replica must make consciously.
  *
  * Replica consistency: after a run, the replica's snapshot holds
  * exactly the source's rows at `srcVersion` (verified by q253's
  * hash-match); version NUMBERS differ (skipped compactions,
  * bucket-scheme differences) — the equality contract is CONTENT, not
  * the log.
  *
  * Deletes on the replica prune by the replica's own layout (bucket
  * files when keyed, zone maps else) — the erasure CONTRACT still
  * applies per table: a replicated delete is logical on the replica
  * until ITS vacuum/enforceErasure runs.
  */
object Replicate {

  /** One run's accounting. `srcVersion` is the source version this run
    * synced to; `dstVersion` the replica's version after; counts are
    * this run's applied/skipped commits (a fully-synced re-run is all
    * zeros with `noop = true`).
    */
  final case class ReplicationReport(
      srcVersion: Long, dstVersion: Long, appendsApplied: Long,
      deletesApplied: Long, layoutSkipped: Long, rowsCopied: Long,
      noop: Boolean)

  /** Sync `dstPath` with `srcPath`'s commits since the last run.
    * `idCol` enables delete replication (and is required when a delete
    * commit is pending). `app` namespaces the cursor — replicate the
    * same source into two replicas with the default, or override to
    * fan one table into differently-filtered targets.
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
      idCol: Option[String] = None,
      app: String = "graft-replica"): ReplicationReport = {
    val srcLatest = TxParquetTable.latestVersion(srcPath)
    require(srcLatest >= 0, s"replicate: no Tx table at $srcPath")
    val last = TxParquetTable.recordedTxn(dstPath, app).getOrElse(-1L)
    val pending = TxParquetTable.commitAdds(srcPath, last, srcLatest)
    var appends = 0L; var deletes = 0L; var layout = 0L; var rows = 0L
    pending.foreach { case TxParquetTable.CommitAdds(v, op, hasRemoves, columnsReset, adds, schema) =>
      val isCompact = op.contains("compact") || (op.isEmpty && columnsReset)
      if (isCompact) layout += 1
      else if (op.contains("delete")) {
        val key = idCol.getOrElse(throw new IllegalArgumentException(
          s"replicate: source commit $v is a DELETE — pass idCol to " +
            "replicate keyed deletes"))
        val ids = TxParquetTable.changes(spark, srcPath, v - 1, v, key)
          .filter(col("change_type") === "delete").select(key)
        TxParquetTable.delete(ids, dstPath, key, txn = Some((app, v)))
        deletes += 1
      } else if (!hasRemoves) {
        // plain append: exactly the added files' rows, read under the
        // schema the source recorded at that commit (a legacy commit
        // that recorded none infers it); when the caller named an idCol,
        // stamp its zone map on the replica's files so replicated
        // deletes prune there too (the source's layout advantages don't
        // ship — rebuild the cheap ones)
        if (adds.nonEmpty) {
          val files = adds.map(_._1)
          val df = schema.fold(spark.read.option("mergeSchema", "true").parquet(files: _*))(
            spark.read.schema(_).parquet(files: _*))
          TxParquetTable.append(df, dstPath,
            statsColumns = idCol.filter(df.columns.contains).toSeq,
            txn = Some((app, v)))
          appends += 1
          rows += adds.map(_._2).filter(_ >= 0).sum
        }
      } else throw new IllegalStateException(
        s"replicate: source commit $v (op=${op.getOrElse("upsert/rewrite")}) " +
          "changes data in place — replicate upsert-maintained tables by " +
          "re-running their maintenance against the replica (txn ids make " +
          "that exactly-once), and apply restores deliberately")
    }
    ReplicationReport(srcLatest, TxParquetTable.latestVersion(dstPath),
      appends, deletes, layout, rows,
      noop = appends == 0 && deletes == 0)
  }
}
