package org.apache.spark.sql.graft

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SQLExecution, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Column <-> Expression / Dataset <-> LogicalPlan bridge. In Spark 4 the
  * public `Column` carries a ColumnNode rather than a Catalyst Expression;
  * the converters live in `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is private[sql] — so this one-file shim is compiled into the sql
  * package namespace (the conventional pattern for Catalyst-extending
  * libraries).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert a Column's node tree into a CATALYST expression tree
    * (UnresolvedFunction nodes and all), the same conversion the Dataset
    * API applies during analysis. Needed by SQL FunctionBuilders that
    * delegate to Column-API constructions: [[expression]]'s lazy
    * `ColumnNodeExpression` wrapper is opaque to the analyzer in that
    * position (codegen later fails with INTERNAL_ERROR), while this
    * eager form re-enters normal function resolution.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The schema a file-source write persists and a read returns: every
    * field, nested ones included, nullable (`asNullable` is private[spark]).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** `a` widened by `b`'s new fields, as a parquet mergeSchema read merges
    * two files' schemas (`merge` is private[sql]); a same-name type
    * change fails here. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b)

  /** `cols` resolved against `attrs` and bound to their ordinals, for
    * evaluation on the rows a task writes (see [[writeParquet]]). */
  def boundExpressions(spark: SparkSession, attrs: Seq[Attribute], cols: Seq[Column]): Seq[Expression] =
    ofRows(spark, LocalRelation(attrs)).select(cols: _*).queryExecution.analyzed match {
      case Project(list, _) => list.map { e =>
        BindReferences.bindReference(e.transformUp {
          case a: Alias => a.child
          case r: RuntimeReplaceable => r.replacement
        }, attrs)
      }
      case other => throw new IllegalStateException(s"expected a projection, got $other")
    }

  /** Write `df` as parquet in ONE job through Spark's `FileFormatWriter`,
    * under a protocol that is both the job's commit protocol and its one
    * stats tracker: it decides where each file goes, what each file's
    * stats are and what job commit means. `protocol` receives the written
    * data columns. The columns named in `partitionCols` are not written;
    * the protocol sees each of their values as a `col=value` directory.
    * `hadoopConf` entries apply to this write only. */
  def writeParquet(df: DataFrame, partitionCols: Seq[String], outputPath: String,
      hadoopConf: Map[String, String])(
      protocol: Seq[Attribute] => FileCommitProtocol with WriteJobStatsTracker): Unit = {
    val qe = df.queryExecution
    val session = qe.sparkSession
    SQLExecution.withNewExecutionId(qe, Some("tx write")) {
      val plan = qe.executedPlan
      val (parts, data) = plan.output.partition(a => partitionCols.contains(a.name))
      val p = protocol(data)
      val conf = session.sessionState.newHadoopConf()
      hadoopConf.foreach { case (k, v) => conf.set(k, v) }
      FileFormatWriter.write(session, plan, new ParquetFileFormat, p,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, plan.output), conf,
        parts, None, Seq(p), Map.empty)
    }
    ()
  }

  /** Number of `Dataset.cache()` entries the session's CacheManager holds
    * (`numCachedEntries` is private[sql]). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Analyzed logical plan of a frame. */
  def analyzed(df: Dataset[_]): LogicalPlan = df.queryExecution.analyzed

  /** Idempotently add a planner strategy to the session (runtime-settable
    * counterpart of SparkSessionExtensions.injectPlannerStrategy — works on
    * sessions the caller did not build).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
