package graft

import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** Scratch diagnostic (not part of the driver contract): per-stage
  * timing and volume attribution for the xxhash MinHash+LSH pair
  * pipeline — written to localize the sf10 q_minhash_pairs /
  * q_curate_lsh multi-run swing to a stage. Stages mirror
  * [[TextDedup.minhashLshPairs]] exactly (same k/bands/threshold as
  * the bench query).
  */
object MinHashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Engine.session("minhash-probe")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-48s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // Stage-level wait attribution: run time vs actual CPU time vs GC.
    // cpu << run means tasks were BLOCKED (scheduler, memory manager,
    // I/O), not computing — the discriminator for the sf10 swing.
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) stageAgg.merge(t.stageId,
            (m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        }
      })
    def waitReport(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      val s = stageAgg.asScala.values.foldLeft((0L, 0L, 0L)) {
        case ((r, c, g), (r2, c2, g2)) => (r + r2, c + c2, g + g2) }
      println(f"[probe] $label: task run ${s._1 / 1000.0}%.1f s, cpu ${s._2 / 1000.0}%.1f s, gc ${s._3 / 1000.0}%.1f s (blocked ${(s._1 - s._2 - s._3) / 1000.0}%.1f s)")
      stageAgg.clear()
    }

    val docs = graft.Tables.documents(spark, sfDir)
    docs.write.format("noop").mode("overwrite").save() // warm scan

    for (round <- 1 to 3) {
      println(s"=== pass $round ===")
      spark.catalog.clearCache()
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", n = 3, k = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSigs = time("signatures (native expr) persist+count") { sigs.count() }
      val banded = TextDedup.bandSigFrame(sigs, k = 32, bands = 8)
      val nBanded = time("banded rows count") { banded.count() }
      val a = banded.as("a"); val b = banded.as("b")
      val cand0 = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      val nCand = time("raw candidate join count") { cand0.count() }
      val dedup = cand0.dropDuplicates("doc_a", "doc_b")
      val nDedup = time("dropDuplicates count") { dedup.count() }
      val verified = dedup
        .withColumn("est_jaccard",
          graft.plans.SigAgree.agree(col("sig_a"), col("sig_b")).cast("double") / 32)
        .filter(col("est_jaccard") >= 0.8)
      val nPairs = time("verify+filter count") { verified.count() }
      time("END-TO-END operator (fresh, as benched)") {
        TextDedup.minhashLshPairs(docs, "text", "doc_id", n = 3, k = 32,
          bands = 8, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()
      }
      sigs.unpersist()
      println(s"[probe] volumes: sigs=$nSigs banded=$nBanded cand=$nCand dedup=$nDedup $nPairs")
    }

    // the OTHER half of the benched dual-path queries: exact-Jaccard
    // ground truth (postings pipeline) + the verdict join
    for (round <- 1 to 6) {
      println(s"=== exact pass $round ===")
      spark.catalog.clearCache()
      stageAgg.clear()
      val nTruth = time("jaccardPairs (exact truth) count") {
        TextDedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5).count()
      }
      waitReport("jaccardPairs")
      time("minhashVsExactReport END-TO-END (as benched)") {
        TextDedup.minhashVsExactReport(docs, "text", "doc_id",
          n = 3, k = 32, bands = 8, threshold = 0.5,
          minRecall = 0.9, minPrecision = 0.9)
          .write.format("noop").mode("overwrite").save()
      }
      waitReport("vsExactReport")
      println(s"[probe] exact pairs=$nTruth")
    }
    spark.stop()
  }
}
