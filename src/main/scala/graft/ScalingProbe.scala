package graft

import org.apache.spark.sql.SparkSession

/** Strong-scaling probe: `runMain graft.ScalingProbe <sfDir>
  * [levels] [queries...]` times a representative query mix at several
  * `local[n]` parallelism levels (shuffle partitions sized to n each
  * time, exactly as [[Engine.session]] does on a cluster) and reports
  * the speedup curve — the measured answer to "does this suite's work
  * actually parallelize, or is something serializing on the driver?".
  *
  * Levels run DESCENDING (32 → 4 by default) in one JVM: codegen and
  * JIT warmth accumulated at the wide levels then subsidizes the
  * NARROW levels, so the reported speedups are a conservative floor,
  * never warmth-inflated. Each level re-creates the session (new
  * master, new shuffle-partition count) and runs every query twice,
  * keeping the better pass (the suite's standard stall-robust
  * estimator; see Bench).
  *
  * The default mix spans the regimes that scale differently: pure
  * map scan work (q_quality_classifier), scan + partial agg (q1_agg),
  * explode + two-stage agg (q_text_stats), session windows
  * (q_events_sessions_native), and hash-heavy banded self-join
  * (q_minhash_pairs_md5). Emits ONE JSON line and writes
  * `SCALING_CURVE.json`.
  */
object ScalingProbe {
  private val DefaultQueries = Seq(
    "q1_agg", "q_text_stats", "q_quality_classifier",
    "q_events_sessions_native", "q_minhash_pairs_md5")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    // always measured DESCENDING regardless of argument order: the
    // conservative-floor warmth argument (wide levels warm the narrow
    // ones, never the reverse) only holds in that direction
    val levels = (if (args.length > 1) args(1) else "32,16,8,4")
      .split(",").map(_.trim.toInt).toSeq.distinct.sorted(Ordering.Int.reverse)
    val queries = if (args.length > 2) args.drop(2).toSeq else DefaultQueries

    val perLevel = levels.map { n =>
      val spark = Engine.session(s"graft-scaling-$n", n)
      // codegen warmup at the smallest SF (class cache survives the
      // session restart — it is JVM-static — but plans re-resolve)
      queries.foreach { q =>
        try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      def once(q: String): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      val best = queries.map { q =>
        val t = math.min(once(q), once(q))
        println(f"[scaling] local[$n] $q: $t%.2f s")
        q -> t
      }
      spark.stop()
      // full teardown so the next level's context starts clean
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      n -> best
    }

    val base = perLevel.minBy(_._1) // narrowest level = speedup baseline
    val rows = perLevel.map { case (n, qs) => (n, qs.map(_._2).sum, qs) }
    val levelsJson = rows.map { case (n, total, qs) =>
      val qj = qs.map { case (q, t) => "\"" + q + "\":" + f"$t%.2f" }.mkString(",")
      f""""$n":{"total_sec":$total%.2f,$qj}"""
    }.mkString(",")
    val narrowN = base._1
    val narrowTotal = base._2.map(_._2).sum
    val curve = rows.map { case (n, total, _) =>
      f""""${n}x":${narrowTotal / total}%.2f"""
    }.mkString(",")
    val line =
      f"""{"probe":"scaling_curve","sf_dir":"$sfDir","queries":${queries.map("\"" + _ + "\"").mkString("[", ",", "]")},"baseline_threads":$narrowN,"speedup_vs_${narrowN}":{$curve},"levels":{$levelsJson}}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALING_CURVE.json"), line.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[scaling] artifact write failed: ${e.getMessage}")
    }
  }
}
