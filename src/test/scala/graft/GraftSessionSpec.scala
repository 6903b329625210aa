package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.TxParquetTable

/** The session every harness, tool and spec runs is the one
  * [[GraftSession]] declares. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("SPARK_GRAFT_CPUS is parsed as a positive integer up front") {
    assert(GraftSession.cpusFromEnv(Map("SPARK_GRAFT_CPUS" -> " 8 ")) === 8)
    assert(GraftSession.cpusFromEnv(Map.empty) === Runtime.getRuntime.availableProcessors)
    intercept[IllegalArgumentException](GraftSession.cpusFromEnv(Map("SPARK_GRAFT_CPUS" -> "8c")))
    intercept[IllegalArgumentException](GraftSession.cpusFromEnv(Map("SPARK_GRAFT_CPUS" -> "0")))
  }

  test("the spec session resolves the extension functions and reads nanos as long") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      === "true")
    val path = Files.createTempDirectory("graft_session_").toFile.getAbsolutePath
    TxParquetTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // a fresh session over the same context starts from the built-in
    // registry plus the configured extensions: a function registered by
    // hand in an earlier suite cannot answer for them
    Seq(spark, spark.newSession()).foreach { s =>
      val bands = s.sql("SELECT minhash_bands('the quick brown fox jumps over') AS b")
        .head.getSeq[String](0)
      assert(bands.length === 4)
      assert(s.sql(s"SELECT count(*) FROM graft_tx('$path')").head.getLong(0) === 2L)
    }
  }

  test("only GraftSession builds a SparkSession in src/main and src/test") {
    val builderCall = raw"SparkSession\s*\.\s*builder\s*\(".r
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def builds(p: Path): Boolean = builderCall.findFirstIn(Files.readString(p)).isDefined
    val factory = sources.filter(_.getFileName.toString == "GraftSession.scala")
    assert(factory.size === 1 && builds(factory.head), "the scan must see the factory's own call")
    assert(sources.filterNot(factory.contains).filter(builds).map(_.toString).sorted === Nil)
  }
}
