package graft.sources

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}

import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxParquetTable.{AddFile, ColStats}

/** The commit protocol of one Tx write job, after Delta Lake's
  * `DelayedCommitProtocol` and statistics tracker (Armbrust et al., VLDB
  * 2020).
  *
  *   - Tasks write straight into each target table's `data/`, every file
  *     named after the job id. A partitioned write routes each partition
  *     directory (`lane=<value>`, see `routes`) to its table; a value with
  *     no route lands in the first table until job commit rejects it.
  *   - The writing task counts each file's rows and evaluates `bucket`
  *     (the row's id bucket) and `bounds` (zone-map inputs: column, stats
  *     tag, value) on every row it writes, so the task commit message
  *     carries each file's `AddFile` and no job reads the files back.
  *   - Job commit is the log append: `publish(i, adds)` runs for every
  *     target, in order. An abort deletes the job's files from every
  *     target not yet published.
  *
  * The same object is the write's commit protocol and its stats tracker.
  * Both are serialized into one task closure, so within a task they stay
  * one object and the tracker's rows land in the committer's file list.
  */
private[sources] final class TxCommitProtocol(
    jobId: String,
    dataDirs: Seq[String],
    routes: Map[String, Int],
    bucket: Option[Expression],
    bounds: Seq[(String, String, Expression)],
    @transient publish: (Int, Seq[AddFile]) => Unit)
  extends FileCommitProtocol with WriteJobStatsTracker {

  /** One file a task wrote: where it goes, its rows, buckets and bounds. */
  private final class Written(val route: String, val name: String) {
    var rows = 0L
    val buckets = mutable.BitSet.empty
    val mn, mx = new Array[Any](bounds.size)

    def add(row: InternalRow): Unit = {
      rows += 1
      bucket.foreach(b => buckets += b.eval(row).asInstanceOf[Int])
      var i = 0
      while (i < bounds.size) {
        val v = bounds(i)._3.eval(row)
        if (v != null) {
          val ord = orderings(i)
          if (mn(i) == null || ord.lt(v, mn(i))) mn(i) = owned(v)
          if (mx(i) == null || ord.gt(v, mx(i))) mx(i) = owned(v)
        }
        i += 1
      }
    }

    // an all-null column records no bounds: the file is never pruned on it
    def result: (String, AddFile) = route -> AddFile(name, buckets.toSeq,
      bounds.indices.collect { case i if mn(i) != null =>
        bounds(i)._1 -> ColStats(bounds(i)._2, mn(i).toString, mx(i).toString)
      }.toMap, rows)
  }

  // a string value is a view into the writer's reused row buffer
  private def owned(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  @transient private lazy val orderings = bounds.map(b => TypeUtils.getInterpretedOrdering(b._3.dataType))

  // task side: this task's files by path
  @transient private var files: mutable.LinkedHashMap[String, Written] = _
  // driver side: targets whose commit was published
  @transient private lazy val published = mutable.Set.empty[Int]

  override def setupJob(job: JobContext): Unit = dataDirs.foreach(new File(_).mkdirs())

  override def setupTask(task: TaskAttemptContext): Unit = files = mutable.LinkedHashMap.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val route = dir.getOrElse("")
    val id = task.getTaskAttemptID
    val name = f"$jobId-${id.getTaskID.getId}%05d-${id.getId}-${files.size}%03d.parquet"
    val path = new File(dataDirs(routes.getOrElse(route, 0)), name).getAbsolutePath
    files(path) = new Written(route, name)
    path
  }

  override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
      spec: FileNameSpec): String =
    throw new UnsupportedOperationException("a Tx write has no custom partition locations")

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(files.values.map(_.result).toSeq)

  override def abortTask(task: TaskAttemptContext): Unit =
    files.keys.foreach(p => new File(p).delete())

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = {
    val written = msgs.flatMap(_.obj.asInstanceOf[Seq[(String, AddFile)]])
    val unrouted = written.map(_._1).filterNot(routes.contains).distinct
    require(unrouted.isEmpty, s"rows in ${unrouted.mkString(", ")} have no target table")
    val byTarget = written.groupBy(w => routes(w._1))
    dataDirs.indices.foreach { i =>
      publish(i, byTarget.getOrElse(i, Seq.empty).map(_._2))
      published += i
    }
  }

  override def abortJob(job: JobContext): Unit =
    dataDirs.indices.filterNot(published).foreach { i =>
      Option(new File(dataDirs(i)).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(jobId)).foreach(_.delete())
    }

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private var current: Written = _
    private var currentPath: String = _
    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = {
      current = files.getOrElse(path, throw new IllegalStateException(
        s"$path was not opened by this task's Tx commit protocol"))
      currentPath = path
    }
    override def closeFile(path: String): Unit = ()
    override def newRow(path: String, row: InternalRow): Unit = {
      if (path ne currentPath) newFile(path)
      current.add(row)
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TxCommitProtocol.NoStats
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit = ()
}

private[sources] object TxCommitProtocol {
  /** The stats travel in the task commit messages. */
  case object NoStats extends WriteTaskStats
}
