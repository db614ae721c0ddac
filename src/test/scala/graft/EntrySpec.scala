package graft

import graft.operators.Multimodal
import graft.sources.FileSources
import org.apache.spark.sql.functions._

/** Driver-contract smoke tests + sources + multimodal plumbing. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every queries entry has an oracleSql entry (reverse invariant)") {
    // A query registered without an oracle becomes a PERMANENT non-green
    // row in the driver's correctness ledger (the q_curate_fast lesson:
    // rows-only checks read as weak coverage). Engine-specific outputs
    // DuckDB can't mirror belong in GoldenGen or a spec, not here.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"query without oracle (deregister it or add SQL): $missing")
  }

  test("all queries run and return rows on sf0.001 (except anti-join)") {
    val mayBeEmpty = Set("q_j4_anti", "q_jaccard_pairs")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("no_oracle queries match their frozen sf0.01 golden files") {
    // Engine-specific outputs DuckDB can't mirror (hash signatures,
    // sketches, stubbed codec) are still deterministic — regressions are
    // caught against goldens generated by `Test/runMain graft.GoldenGen`.
    GoldenGen.goldenQueries.foreach { name =>
      val goldenPath = s"${GoldenGen.goldenDir}/$name.csv"
      assert(new java.io.File(goldenPath).exists(), s"missing golden $goldenPath — run GoldenGen")
      val golden = spark.read.option("header", "true").csv(goldenPath)
      val df = SparkEntry.queries(name)(spark, GoldenGen.sfDir)
      val got = df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
      assert(got.columns.toSeq == golden.columns.toSeq,
        s"$name schema drift: ${got.columns.toSeq} vs ${golden.columns.toSeq}")
      val gotRows = got.collect().map(_.toSeq).toSeq
      val goldenRows = golden.collect().map(_.toSeq).toSeq
      assert(gotRows.size == goldenRows.size,
        s"$name rows: ${gotRows.size} vs golden ${goldenRows.size}")
      gotRows.zip(goldenRows).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"$name row $i: $g != golden $e")
      }
    }
  }

  test("latestFile picks lexicographic max by name (S12)") {
    val dir = java.nio.file.Files.createTempDirectory("latest").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "2024-01-x.csv"), "a")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "2024-03-x.csv"), "a")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "other.txt"), "a")
    val got = FileSources.latestFile(spark, dir, "^\\d{4}-\\d{2}-x\\.csv$")
    assert(got.exists(_.endsWith("2024-03-x.csv")))
  }

  test("csv round-trip with UTF-8 and flattenRecords on nested json (S1/S10)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.option("header", "true").csv(s"$dir/c")
    val back = FileSources.csv(spark, s"$dir/c")
    assert(back.count() == 2 && back.columns.toSeq == Seq("k", "v"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "n.json"),
      """{"wrapper": [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]}""")
    val flat = FileSources.flattenRecords(
      FileSources.jsonWholeDoc(spark, s"$dir/n.json"), "wrapper")
    assert(flat.columns.sorted.toSeq == Seq("x", "y") && flat.count() == 2)
  }

  test("q_approx_profile verdicts hold and exacts agree with q_distinct_profile") {
    // the bounded-error comparison now lives IN the query (HLL default
    // rsd = 5%; 15% is a no-flake bound on fixed data) — assert the
    // verdict booleans and that the emitted exact counts are the same
    // ones q_distinct_profile reports
    val row = SparkEntry.queries("q_approx_profile")(spark, sf).head()
    val exact = SparkEntry.queries("q_distinct_profile")(spark, sf).head()
    assert(row.getLong(0) == exact.getLong(0), "exact_orders drifted")
    assert(row.getLong(1) == exact.getLong(1), "exact_parts drifted")
    assert(row.getBoolean(2) && row.getBoolean(3),
      s"HLL bounded-error verdict failed: $row")
  }

  test("multimodal: real probe/decode; non-image bytes → invalid rows, zero frames") {
    val docs = Tables.documents(spark, sf).limit(10)
    // negative path: md5 bytes are not a decodable image
    val withMedia = Multimodal.withFakeMedia(docs, "text")
    val meta = Multimodal.probeMeta(spark, withMedia, "doc_id")
    assert(meta.count() == 10)
    assert(meta.filter(col("valid")).count() == 0)
    assert(meta.filter(col("n_bytes") =!= 16).count() == 0) // md5 = 16 bytes
    assert(Multimodal.sampleFrames(spark, withMedia, "doc_id", 3).count() == 0)
    // positive path: synthesized PNGs decode to real dimensions + 1 frame
    val imgs = Multimodal.syntheticImages(spark, docs, "doc_id")
    val imeta = Multimodal.probeMeta(spark, imgs, "id")
    assert(imeta.filter(!col("valid")).count() == 0)
    assert(imeta.filter(col("format") === "png" && col("width") === 8 &&
      col("height") === 8).count() == 10)
    assert(Multimodal.sampleFrames(spark, imgs, "id", 3).count() == 10)
  }
}
