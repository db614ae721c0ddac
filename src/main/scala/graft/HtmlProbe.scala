package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B diagnostic for HTML→text extraction at scale: the native
  * three-buffer [[graft.plans.HtmlToText]] vs the declared regex
  * chain ([[graft.operators.Html.htmlToTextChain]]) over the sf10
  * corpus wrapped in the q_html_extract page synthesis, at 32 threads
  * (plus a native 4-thread pass for the thread-scaling ratio — the
  * round-11 rule: measure every new per-row native for shared-state
  * cliffs before it ships). `runMain graft.HtmlProbe <sfDir>`.
  */
object HtmlProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"

    def run(cpus: Int, tag: String, f: Column => Column): Double = {
      val spark = Engine.session(s"graft-htmlprobe-$cpus", cpus)
      val html = SparkEntry.docsWithSynthHtml(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      html.count()
      var best = Double.MaxValue
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        html.select(md5(f(col("html"))).as("m"))
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $tag cpus=$cpus pass$pass: $sec%.2f s")
        best = math.min(best, sec)
      }
      html.unpersist()
      spark.stop()
      best
    }

    val chain32 = run(32, "chain ", graft.operators.Html.htmlToTextChain)
    val nat32 = run(32, "native", graft.operators.Html.htmlToText)
    val nat4 = run(4, "native", graft.operators.Html.htmlToText)
    println(f"""{"probe":"html_extract","chain32_sec":$chain32%.2f,"native32_sec":$nat32%.2f,"native4_sec":$nat4%.2f,"speedup":${chain32 / nat32}%.2f,"scaling4to32":${nat4 / nat32}%.2f}""")
  }
}
