package graft

import org.apache.spark.sql.functions._

/** Ad-hoc scale diagnostics: `runMain graft.ScaleProbe <sfDir>`.
  * Used by the scale rehearsal (SCALE.md) to measure the two knobs the
  * fixed verification configs hold constant on purpose:
  *
  *   - LSH table width: candidates grow ∝ N²/2^nbits, so nbits must
  *     track log₂(N/targetDepth) as the corpus grows. The probe times
  *     the identical near-dup screen at the sf0.1-sized width (14 bits)
  *     and at the corpus-sized width.
  *   - q3_top10's join strategy at the current SF (plan printed).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    val spark = Engine.session("graft-scaleprobe")

    val base = Tables.embeddings(spark, sfDir).select(
      col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val dups = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.02) *
            ((col("vec_id") + i) % 5 - 2).cast("double"))).as("embedding"))
    val corpus = base.unionByName(dups)
    val n = corpus.count()
    println(s"[probe] corpus vectors: $n")

    Seq(14, 18).foreach { nbits =>
      val t0 = System.nanoTime()
      val pairs = operators.Similarity.lshNearDupPairs(
        corpus, "vec_id", "embedding", threshold = 0.9,
        nbits = nbits, tables = 4).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] lshNearDupPairs nbits=$nbits: $pairs pairs in $dt%.1f s")
      spark.catalog.clearCache()
    }

    val q3 = SparkEntry.queries("q3_top10")(spark, sfDir)
    println(q3.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.take(40).mkString("\n"))
    val t0 = System.nanoTime()
    q3.write.format("noop").mode("overwrite").save()
    println(f"[probe] q3_top10: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
