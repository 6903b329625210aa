package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the engine's own session
  * ([[GraftSession]]) on four cores, built lazily and shared by every
  * suite in the test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** `body`'s result and the number of top-level SQL executions it
    * started (nested executions, such as a command's own query, are
    * not counted). */
  def sqlExecutions[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => n.incrementAndGet()
        case _ => ()
      }
    }
    org.apache.spark.sql.graft.BusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graft.BusDrain.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Top-level column names in the footer of the parquet file `path`. */
  def footerColumns(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally reader.close()
  }
}
