package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BoundedTopK, GramRepetitionStats, MinHashBands, ShingleFingerprint, SimHash120, SimHash64, WordNgrams}

/** SparkSessionExtensions registration exposing the engine's native
  * expressions to the SQL surface:
  *
  *   spark.sql("SELECT minhash_bands(text, 8, 16, 4) FROM docs")
  *   spark.sql("SELECT simhash64(split(text, ' ')) FROM docs")
  *   spark.sql("SELECT shingle_fingerprint(text, 8) FROM docs")
  *
  * plus the transactional table as a SQL TABLE function (the S4
  * catalog-substitution surface — time travel from plain SQL):
  *
  *   spark.sql("SELECT * FROM graft_tx('/path/to/table')")
  *   spark.sql("SELECT * FROM graft_tx('/path/to/table', 3)")  -- version 3
  *
  * Wire up with:
  *   GraftSession.builder()  // sets spark.sql.extensions=graft.GraftExtensions
  * or, for a session built elsewhere, that config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got: $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in optimizer rule (spark.graft.rewriteTopOne=true):
    // rank-1-per-group window -> min_by/max_by hash aggregate
    ext.injectOptimizerRule(_ => graft.plans.RewriteTopOnePerGroup)

    // physical planning for the custom sort-merge as-of join
    // (graft.plans.MergeAsOfJoinPlan; the MergeAsOf.join API also
    // registers this at runtime for sessions built without extensions)
    ext.injectPlannerStrategy(_ => graft.plans.MergeAsOfJoinStrategy)

    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (args: Seq[Expression]) => args match {
        case Seq(text, k, nh, nb) =>
          MinHashBands(text, intArg(k, "shingleK"), intArg(nh, "numHashes"), intArg(nb, "numBands"))
        case Seq(text) => MinHashBands(text, 8, 16, 4)
        case _ => throw new IllegalArgumentException(
          "minhash_bands(text[, shingleK, numHashes, numBands])")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => SimHash64(tokens)
        case _ => throw new IllegalArgumentException("simhash64(tokens_array)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("simhash120"),
      new ExpressionInfo(classOf[SimHash120].getName, "simhash120"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => SimHash120(tokens)
        case _ => throw new IllegalArgumentException("simhash120(tokens_array)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("bounded_top_k"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_top_k"),
      (args: Seq[Expression]) => args match {
        case Seq(score, id, k) => BoundedTopK(score, id, intArg(k, "k"))
        case _ => throw new IllegalArgumentException("bounded_top_k(score, id, k)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => args match {
        case Seq(text, n) => WordNgrams(text, intArg(n, "n"), distinct = false)
        case Seq(text, n, Literal(d: Boolean, _)) => WordNgrams(text, intArg(n, "n"), d)
        case _ => throw new IllegalArgumentException("word_ngrams(text, n[, distinct])")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("gram_repetition_stats"),
      new ExpressionInfo(classOf[GramRepetitionStats].getName, "gram_repetition_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(text, n) => GramRepetitionStats(text, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("gram_repetition_stats(text, n)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("word_ngrams_stream"),
      new ExpressionInfo(classOf[graft.functions.WordNgramsStream].getName, "word_ngrams_stream"),
      (args: Seq[Expression]) => args match {
        case Seq(text, n) => graft.functions.WordNgramsStream(text, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("word_ngrams_stream(text, n)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(classOf[graft.functions.Int8Quantize].getName, "int8_quantize"),
      (args: Seq[Expression]) => args match {
        case Seq(vec) => graft.functions.Int8Quantize(vec)
        case _ => throw new IllegalArgumentException("int8_quantize(array<double>)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      FunctionIdentifier("shingle_fingerprint"),
      new ExpressionInfo(classOf[ShingleFingerprint].getName, "shingle_fingerprint"),
      (args: Seq[Expression]) => args match {
        case Seq(text, k) => ShingleFingerprint(text, intArg(k, "shingleK"))
        case Seq(text) => ShingleFingerprint(text, 8)
        case _ => throw new IllegalArgumentException("shingle_fingerprint(text[, shingleK])")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    // pii_redact(text): the llmops.Pii redaction chain as a SQL scalar —
    // composed from Spark's own codegen'd RegExpReplace expressions, so
    // the SQL surface and the Column API share one pattern source of
    // truth (graft.llmops.Pii.{emailRe,cardRe,phoneRe,ipRe}, fixed
    // longest-first order)
    ext.injectFunction((
      FunctionIdentifier("pii_redact"),
      new ExpressionInfo(graft.llmops.Pii.getClass.getName, "pii_redact"),
      GraftExtensions.piiRedactBuilder): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    // quality_score(text): the q131 fixed-weight logistic quality model
    // as a SQL scalar — built from the SAME Column-API expression tree
    // (TextAnalysis.logisticQualityScore), so the SQL surface cannot
    // drift from the operator or its oracle contract
    ext.injectFunction((
      FunctionIdentifier("quality_score"),
      new ExpressionInfo(graft.llmops.TextAnalysis.getClass.getName, "quality_score"),
      GraftExtensions.qualityScoreBuilder): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectTableFunction((
      FunctionIdentifier("graft_tx"),
      new ExpressionInfo(graft.sources.TxParquetTable.getClass.getName, "graft_tx"),
      GraftExtensions.graftTxBuilder))

    ext.injectTableFunction((
      FunctionIdentifier("graft_tx_changes"),
      new ExpressionInfo(graft.sources.TxParquetTable.getClass.getName, "graft_tx_changes"),
      GraftExtensions.graftTxChangesBuilder))

    ext.injectTableFunction((
      FunctionIdentifier("graft_tx_range"),
      new ExpressionInfo(graft.sources.TxParquetTable.getClass.getName, "graft_tx_range"),
      GraftExtensions.graftTxRangeBuilder))

    ext.injectTableFunction((
      FunctionIdentifier("graft_tx_history"),
      new ExpressionInfo(graft.sources.TxParquetTable.getClass.getName, "graft_tx_history"),
      GraftExtensions.graftTxHistoryBuilder))
  }
}

object GraftExtensions {

  /** Scalar builder for `pii_redact(text)` — the [[graft.llmops.Pii]]
    * redaction chain as Spark's own codegen'd RegExpReplace expressions,
    * folded from [[graft.llmops.Pii.classes]] (the one ordered pattern
    * source of truth, longest-first email→card→intl→phone→IPv6→IPv4) so
    * the SQL surface cannot drift from the Column API or from what the
    * spec asserts. Shared between [[GraftExtensions.apply]] and the
    * SparkEntry queries' own registration.
    */

  /** Scalar builder for `quality_score(text)` — delegates to the
    * Column-API [[graft.llmops.TextAnalysis.logisticQualityScore]] via
    * the bridge, so SQL and DataFrame callers share one expression tree
    * (features → rounded logit → rounded sigmoid, no UDF).
    */
  private[graft] val qualityScoreBuilder: Seq[Expression] => Expression = {
    case Seq(text) =>
      // catalystExpression, not expression: the lazy ColumnNodeExpression
      // wrapper is opaque to the analyzer inside a FunctionBuilder result
      org.apache.spark.sql.graft.bridge.catalystExpression(
        graft.llmops.TextAnalysis.logisticQualityScore(
          org.apache.spark.sql.graft.bridge.column(text),
          graft.llmops.TextAnalysis.DefaultStopwords))
    case _ => throw new IllegalArgumentException("quality_score(text)")
  }

  private[graft] val piiRedactBuilder: Seq[Expression] => Expression = {
    case Seq(text) =>
      import org.apache.spark.sql.catalyst.expressions.{Literal => L, RegExpReplace}
      graft.llmops.Pii.classes.foldLeft(text) { (e, c) =>
        RegExpReplace(e, L(c.re), L(c.tag))
      }
    case _ => throw new IllegalArgumentException("pii_redact(text)")
  }

  /** Table-function builder for `graft_tx(path[, version])` — resolves a
    * [[graft.sources.TxParquetTable]] snapshot (latest, or the given
    * committed version) into the calling query's plan at ANALYSIS time:
    * the commit log is read once while the plan is built (exactly when a
    * catalog would pin its file listing), and the resulting scan prunes
    * and pushes down like any parquet relation. Arguments must be
    * literals — a table's identity cannot be row-dependent.
    *
    * SINGLE-SESSION ASSUMPTION (r9 advice): Spark's table-function
    * builder API does not hand the builder a session, so the snapshot
    * resolves through `SparkSession.active`. In multi-session or
    * multi-threaded setups the active session may differ from the one
    * analyzing the query, pinning the commit-log read (and its confs)
    * to the wrong session — use one session per planning thread, which
    * the engine's own mains and [[GraftSession]] do.
    *
    * Shared between [[GraftExtensions.apply]] and the SparkEntry queries'
    * own registration (a session built outside [[GraftSession]] may lack
    * the extensions).
    */
  private[graft] val graftTxBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = { args =>
    def strArg(e: Expression, name: String): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_tx: $name must be a string literal, got: $other")
    }
    def longArg(e: Expression, name: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_tx: $name must be an integer literal, got: $other")
    }
    val (path, version) = args match {
      case Seq(p) => (strArg(p, "path"), None)
      case Seq(p, v) => (strArg(p, "path"), Some(longArg(v, "version")))
      case _ => throw new IllegalArgumentException("graft_tx(path[, version])")
    }
    graft.sources.TxParquetTable
      .snapshot(org.apache.spark.sql.SparkSession.active, path, version)
      .queryExecution.analyzed
  }

  /** Table-function builder for `graft_tx_changes(path, fromV, toV,
    * idCol)` — the [[graft.sources.TxParquetTable.changes]] CDC read as
    * a SQL relation, same literal-argument discipline as `graft_tx`.
    */
  private[graft] val graftTxChangesBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = { args =>
    def strArg(e: Expression, name: String): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_tx_changes: $name must be a string literal, got: $other")
    }
    def longArg(e: Expression, name: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_tx_changes: $name must be an integer literal, got: $other")
    }
    args match {
      case Seq(p, from, to, id) =>
        graft.sources.TxParquetTable.changes(
            org.apache.spark.sql.SparkSession.active, strArg(p, "path"),
            longArg(from, "fromVersion"), longArg(to, "toVersion"), strArg(id, "idCol"))
          .queryExecution.analyzed
      case _ => throw new IllegalArgumentException(
        "graft_tx_changes(path, fromVersion, toVersion, idCol)")
    }
  }

  /** Table-function builder for `graft_tx_range(path, column, lower,
    * upper[, version])` — the [[graft.sources.TxParquetTable.snapshotRange]]
    * zone-map-pruned read as a SQL relation: whole files outside the
    * [lower, upper] band are skipped from the LOG alone, the residual
    * filter keeps exactness. Pass SQL NULL for an open bound (exactly
    * one may be open). Bounds are int/long/double/string literals —
    * matching the zone-map stat domains (X33).
    */
  private[graft] val graftTxRangeBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = { args =>
    def strArg(e: Expression, name: String): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_tx_range: $name must be a string literal, got: $other")
    }
    def boundArg(e: Expression, name: String): Option[Any] = e match {
      case Literal(null, _) => None
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => Some(s.toString)
      case other => throw new IllegalArgumentException(
        s"graft_tx_range: $name must be a numeric/string literal or NULL, got: $other")
    }
    def longArg(e: Expression, name: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_tx_range: $name must be an integer literal, got: $other")
    }
    val (path, column, lo, hi, version) = args match {
      case Seq(p, c, l, u) =>
        (strArg(p, "path"), strArg(c, "column"),
          boundArg(l, "lower"), boundArg(u, "upper"), None)
      case Seq(p, c, l, u, v) =>
        (strArg(p, "path"), strArg(c, "column"),
          boundArg(l, "lower"), boundArg(u, "upper"), Some(longArg(v, "version")))
      case _ => throw new IllegalArgumentException(
        "graft_tx_range(path, column, lower, upper[, version])")
    }
    graft.sources.TxParquetTable
      .snapshotRange(org.apache.spark.sql.SparkSession.active, path, column, lo, hi, version)
      .queryExecution.analyzed
  }

  /** Table-function builder for `graft_tx_history(path)` — the commit
    * log as a SQL relation (DESCRIBE HISTORY): version, files
    * added/removed, compaction flag, stream transaction id. Log-only —
    * no data file is opened.
    */
  private[graft] val graftTxHistoryBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = { args =>
    def strArg(e: Expression, name: String): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_tx_history: $name must be a string literal, got: $other")
    }
    args match {
      case Seq(p) =>
        graft.sources.TxParquetTable
          .history(org.apache.spark.sql.SparkSession.active, strArg(p, "path"))
          .queryExecution.analyzed
      case _ => throw new IllegalArgumentException("graft_tx_history(path)")
    }
  }
}
