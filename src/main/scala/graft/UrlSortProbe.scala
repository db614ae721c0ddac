package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-off A/B diagnostic for the urlCanonicalize param-sort swap:
  * times the HOF chain vs the native [[graft.plans.SortSegments]]
  * (a) on a MATERIALIZED query-string column — pure per-expression
  * cost — and (b) inside the full q_url_canon projection — tree-shape
  * effects (subexpression elimination, codegen splitting) included.
  * `runMain graft.UrlSortProbe <sfDir>`.
  */
object UrlSortProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    val spark = Engine.session("graft-urlsortprobe")

    // hook contract: query string → full query part ("" or "?a=1&b=2")
    def hofSort(q: Column): Column = {
      val s = array_join(array_sort(filter(split(q, "&"), x => x =!= "")), "&")
      when(s === "", lit("")).otherwise(concat(lit("?"), s))
    }
    def natSort(q: Column): Column =
      plans.SortSegments.sorted(q, "&", dropEmpty = true, prefix = "?")
    // the old when/otherwise shape around the native expr — names the
    // sorted value twice, so its child subtree evaluates twice
    // (conditional values get no cross-branch subexpr elimination)
    def natTwice(q: Column): Column = {
      val s = plans.SortSegments.sorted(q, "&")
      when(s === "", lit("")).otherwise(concat(lit("?"), s))
    }

    def time(tag: String, df: => DataFrame): Unit = {
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        println(f"[probe] $tag pass$pass: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    // materialized query strings (amplified x8 for signal)
    val qs = docs.withColumn("q",
        concat(lit("zz=9&y=8&b=2&a=1&dup=1&dup=1&&k="), md5(col("doc_id").cast("string"))))
      .select(explode(array((1 to 8).map(i => concat(col("q"), lit(i))): _*)).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe] materialized rows: ${qs.count()}")

    time("materialized HOF   ", qs.select(hofSort(col("q")).as("s")))
    time("materialized native", qs.select(natSort(col("q")).as("s")))
    qs.unpersist()

    println("\n[probe] full q_url_canon projection (synthUrl tree):")
    def full(sortFn: Column => Column): DataFrame =
      SparkEntry.docsWithSynthUrl(spark, sfDir)
        .withColumn("url_canon",
          operators.Domains.urlCanonicalizeWith(col("url"), sortFn))
        .withColumn("domain",
          operators.Domains.registeredDomain(
            operators.Domains.hostOf(col("url"))))
    time("full HOF        ", full(hofSort))
    time("full native     ", full(natSort))
    time("full native-2eval", full(natTwice))
    // JIT-cliff hypothesis: the all-codegen native tree yields ONE huge
    // generated method HotSpot won't JIT (-XX:-DontCompileHugeMethods
    // limit 8000 bytecodes), while the HOF CodegenFallback nodes split
    // the tree into JIT-able pieces. A/B the codegen knobs:
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    time("full native huge8000", full(natSort))
    spark.conf.unset("spark.sql.codegen.hugeMethodLimit")
    spark.conf.set("spark.sql.codegen.methodSplitThreshold", "128")
    time("full native split128", full(natSort))
    spark.conf.unset("spark.sql.codegen.methodSplitThreshold")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    time("full native noWSCG", full(natSort))
    time("full HOF    noWSCG", full(hofSort))
    spark.conf.unset("spark.sql.codegen.wholeStage")
    spark.stop()
  }
}
