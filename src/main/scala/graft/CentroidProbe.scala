package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Measured answer to "does a real k-means fit buy IVF recall over the
  * md5-seeded centroid pick, and what does it cost?" —
  * `runMain graft.CentroidProbe <sf dir> [k] [nprobe]`. Runs exact
  * brute-force top-5 truth for 50 queries, then the SAME IVF probe
  * under (a) hashSeedCentroids and (b) fitCentroids (k-means|| init +
  * Lloyd), reporting recall@5, k-means inertia, and fit wall time as
  * one JSON line + CENTROID_RECALL.json. The oracled q_ann_ivf*
  * queries deliberately use replayable seeded centroids; this probe is
  * where the engine-specific fit is MEASURED against them (the
  * measure-don't-assume rule for every approximate path).
  */
object CentroidProbe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-centroidprobe")
    val sf = args(0)
    val k = if (args.length > 1) args(1).toInt else 16
    val nprobe = if (args.length > 2) args(2).toInt else 2

    val e = Tables.embeddings(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    val queries = e.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallOf(cent: DataFrame): Double = {
      val approx = Similarity.ivfTopK(e, queries, cent,
          "vec_id", "embedding", k = 5, nprobe = nprobe)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    def inertiaOf(cent: DataFrame): Double =
      Similarity.inertia(e, "vec_id", "embedding", cent)
        .collect().head.getDouble(0)

    val seeded = Similarity.hashSeedCentroids(e, "vec_id", "embedding", k)
    val seededC = seeded.select(col("vec_id").as("cent_id"),
      col("embedding").cast("array<double>").as("centroid"))
    val t0 = System.nanoTime()
    val fitted = Similarity.fitCentroids(e, "vec_id", "embedding", k, iters = 5)
      .localCheckpoint(true)
    val fitSec = (System.nanoTime() - t0) / 1e9
    val fittedQ = fitted.select(col("cent_id").as("vec_id"),
      col("centroid").as("embedding"))

    val line =
      f"""{"probe":"centroid_recall","sf_dir":"$sf","n_vectors":$n,"k":$k,"nprobe":$nprobe,"queries":${exact.size / 5},"seeded":{"recall5":${recallOf(seeded)}%.4f,"inertia":${inertiaOf(seededC)}%.3f},"lloyd":{"recall5":${recallOf(fittedQ)}%.4f,"inertia":${inertiaOf(fitted)}%.3f,"fit_sec":$fitSec%.2f}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("CENTROID_RECALL.json"), line.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    println(line)
    System.out.flush()
  }
}
