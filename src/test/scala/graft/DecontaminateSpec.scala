package graft

import org.apache.spark.sql.functions._

import graft.llmops.Decontaminate

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("ngrams: space-joined sliding token windows, lowercased") {
    val df = Seq("The Quick  brown fox jumps").toDF("text")
    val got = df.select(Decontaminate.ngrams(col("text"), 3).as("g"))
      .head.getSeq[String](0)
    assert(got === Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("ngrams: documents shorter than n yield an empty array, not null") {
    val df = Seq("one two").toDF("text")
    val got = df.select(Decontaminate.ngrams(col("text"), 3).as("g"))
      .head.getSeq[String](0)
    assert(got === Seq.empty)
  }

  test("contaminationReport counts DISTINCT shared grams per doc") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares "alpha beta gamma" and "beta gamma delta", the latter twice
      (1L, "alpha beta gamma delta x beta gamma delta"),
      (2L, "alpha beta gamma nothing else here"), // one shared gram only
      (3L, "totally unrelated words in this doc")).toDF("doc_id", "text")
    val rep = Decontaminate.contaminationReport(
      corpus, bench, "doc_id", "text", n = 3, minOverlap = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep === Map(1L -> 2L)) // distinct grams: 2, despite 3 raw hits
  }

  test("decontaminate drops flagged docs and keeps everything else intact") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "clean document with no overlap at all")).toDF("doc_id", "text")
    val kept = Decontaminate.decontaminate(
      corpus, bench, "doc_id", "text", n = 3, minOverlap = 1L)
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(2L))
    // full row preserved (anti-join, not projection)
    assert(kept.columns.toSeq === corpus.columns.toSeq)
  }

  test("gramRepetitionStats: run-length fold matches hand-counted multiset") {
    import graft.llmops.TextAnalysis
    // 2-grams of "a b a b a c": [a b, b a, a b, b a, a c]
    //  -> n=5, top = 2 ("a b" or "b a"), dup = 4 (both doubled pairs)
    val df = Seq("a b a b a c").toDF("text")
    val r = df.select(TextAnalysis.gramRepetitionStats(col("text"), 2).as("r"))
      .select("r.n_grams", "r.top_count", "r.dup_count").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 2L, 4L)))
  }

  test("gramRepetitionStats: no duplicates and short docs") {
    import graft.llmops.TextAnalysis
    val r = Seq("x y z").toDF("text")
      .select(TextAnalysis.gramRepetitionStats(col("text"), 2).as("r"))
      .select("r.n_grams", "r.top_count", "r.dup_count").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 1L, 0L)))
    val short = Seq("only").toDF("text")
      .select(TextAnalysis.gramRepetitionStats(col("text"), 2).as("r"))
      .select("r.n_grams", "r.top_count", "r.dup_count").head
    assert((short.getLong(0), short.getLong(1), short.getLong(2)) === ((0L, 0L, 0L)))
  }

  test("gramRepetitionStats: triple-repeated gram counted once in top, thrice in dup") {
    import graft.llmops.TextAnalysis
    // 1-grams of "w w w q": top = 3 (w), dup = 3 (three w's)
    val r = Seq("w w w q").toDF("text")
      .select(TextAnalysis.gramRepetitionStats(col("text"), 1).as("r"))
      .select("r.n_grams", "r.top_count", "r.dup_count").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 3L, 3L)))
  }

  test("native wordNgrams matches the HOF construction, incl. distinct, with codegen forced") {
    import graft.llmops.TextAnalysis
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
      val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
      val hofGrams = transform(
        when(size(toks) >= 3, sequence(lit(0), size(toks) - 3))
          .otherwise(array().cast("array<int>")),
        i => array_join(slice(toks, i + 1, lit(3)), " "))
      val diff = docs.select(col("doc_id"),
          TextAnalysis.wordNgrams(col("text"), 3).as("nat"),
          TextAnalysis.wordNgrams(col("text"), 3, distinct = true).as("natd"),
          hofGrams.as("hof"))
        .filter(col("nat") =!= col("hof") ||
          col("natd") =!= array_distinct(col("hof")))
      assert(diff.count() === 0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("word_ngrams and gram_repetition_stats are callable from SQL") {
    val r = spark.sql(
      "SELECT word_ngrams('A b c', 2) AS g, gram_repetition_stats('w w w', 1) AS s").head
    assert(r.getSeq[String](0) === Seq("a b", "b c"))
    assert(r.getStruct(1).getLong(1) === 3L)
  }

  test("benchmark gram set is broadcast (corpus side never shuffles pre-join)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rep = Decontaminate.contaminationReport(
      docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
      "doc_id", "text", n = 5, minOverlap = 2L)
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("sourceOverlapMatrix: symmetric-count containment, no self pairs, zero-overlap pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "shared gram one here plus alpha unique tail"),
      (2L, "B", "shared gram one here plus beta other words"),
      (3L, "C", "totally disjoint vocabulary nothing common at all")
    ).toDF("doc_id", "source", "text")
    val out = Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // A: 6 trigrams, B: 6 trigrams; shared: "shared gram one", "gram one here",
    // "one here plus" = 3
    assert(out.keySet === Set(("A", "B"), ("B", "A")))   // C overlaps nothing; no self rows
    assert(out(("A", "B")).getAs[Long]("n_shared") === 3)
    assert(out(("A", "B")).getAs[Long]("n_a") === 6)
    assert(out(("A", "B")).getAs[Double]("containment") === 0.5)
    assert(out(("B", "A")).getAs[Double]("containment") === 0.5)
  }

  test("sourceOverlapMatrix: maxSources guard fails fast with the sharding remedy named") {
    import spark.implicits._
    val docs = (1 to 8).map(i => (i.toLong, s"src$i", s"doc number $i words here"))
      .toDF("doc_id", "source", "text")
    // 8 distinct sources passes the default bound but trips a tight one.
    val e = intercept[IllegalArgumentException] {
      Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3, maxSources = 4)
    }
    assert(e.getMessage.contains("distinct sources exceeds"))
    assert(e.getMessage.contains("shard the gram key"))
    // At or under the bound the same input runs fine.
    Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3, maxSources = 8).collect()
  }

  test("sourceOverlapMatrix: knownSourceCount bypasses the guard count job and is trusted") {
    import spark.implicits._
    val docs = (1 to 8).map(i => (i.toLong, s"src$i", s"doc number $i words here"))
      .toDF("doc_id", "source", "text")
    // the guard uses the PROVIDED count, not a recount: 100 > 4 trips it
    // even though the data has only 8 sources — proof no count job ran
    val e = intercept[IllegalArgumentException] {
      Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3,
        maxSources = 4, knownSourceCount = Some(100L))
    }
    assert(e.getMessage.contains("100"))
    // and a correct provided count runs fine
    Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3,
      maxSources = 8, knownSourceCount = Some(8L)).collect()
  }

  test("sourceOverlapMatrix: null sources are excluded from matrix AND guard count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "shared gram one here plus alpha unique tail"),
      (2L, "B", "shared gram one here plus beta other words"),
      (3L, null.asInstanceOf[String], "shared gram one here plus nothing")
    ).toDF("doc_id", "source", "text")
    // guard: count(DISTINCT src) skips the null → 2, under a bound of 2
    val out = Decontaminate.sourceOverlapMatrix(docs, "source", "text", 3, maxSources = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // the null-source doc shares grams with A and B but appears nowhere
    assert(out.keySet === Set(("A", "B"), ("B", "A")))
  }
}
