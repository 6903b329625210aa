package graft

import org.apache.spark.sql.SparkSession

/** Engine session factory: the one place a SparkSession is built. The
  * benchmark and correctness mains, the audit harness, the tools and the
  * spec session all come from here, so each runs the configuration this
  * library is designed against.
  *
  * Local harness: `GraftSession.local(cores)`. Cluster: start from
  * [[builder]] and set master/deploy options externally (spark-submit).
  */
object GraftSession {

  /** Base builder with the engine's required + recommended configuration:
    *   - UTC session time zone (oracle parity; SURVEY §1.2),
    *   - AQE on with skew-join handling (runtime re-plan at scale),
    *   - extensions registered (SQL-callable native functions),
    *   - RocksDB state store for large streaming state (SURVEY §7), with
    *     changelog checkpointing: a commit costs the batch's state changes,
    *     not an upload of the whole store (the soak in
    *     `docs/bench/stream_soak.json` is measured under it),
    *   - nanos-as-long parquet reading (harness events table).
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session sized for this machine: shuffle partitions = cores (the
    * 200 default is wrong in local mode).
    */
  def local(cores: Int = cpusFromEnv()): SparkSession =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Worker count: `SPARK_GRAFT_CPUS` parsed as a positive integer up
    * front (a typo fails here, not as a bad master URL or a string
    * spliced into the bench JSON), else every available core. */
  private[graft] def cpusFromEnv(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map { v =>
      val n = v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be an integer, got '$v'"))
      require(n >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $n")
      n
    }.getOrElse(Runtime.getRuntime.availableProcessors)
}
