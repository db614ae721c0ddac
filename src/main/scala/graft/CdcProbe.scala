package graft

import org.apache.spark.sql.functions._
import graft.operators.TextDedup

/** A/B + thread-scaling evidence for the native GearCdc expression
  * (the HtmlProbe/UrlSortProbe convention for every per-row native in
  * a hot scan): `runMain graft.CdcProbe <sf dir>`.
  *
  * Measures (3 passes each, cached input):
  *   - native chunking over the FULL documents table (the ingest
  *     shape — the q_cdc_dedup bench row only sees a 1/32 sample);
  *   - the replaced Column composition over the 1/32 sample (the old
  *     q_cdc_dedup cost; full-corpus composed would run ~10 min).
  *
  * Run once at 4 cores and once at 32: the per-thread
  * gear cache means no shared state, so chars/sec should scale with
  * threads (the round-11 java.util.regex cliff is what this guards
  * against). Merge the JSON lines into SCALE.md.
  */
object CdcProbe {
  def main(args: Array[String]): Unit = {
    val cpus = Engine.defaultCpus
    val spark = Engine.session("graft-cdcprobe", cpus)
    val sf = args(0)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()
    val nChars = docs.agg(sum(length(col("text")))).head().getLong(0)

    def best(f: => Long): (Double, Long) = {
      var bestT = Double.MaxValue
      var rows = 0L
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        rows = f
        bestT = math.min(bestT, (System.nanoTime() - t0) / 1e9)
      }
      (bestT, rows)
    }

    val (tFull, rowsFull) = best {
      TextDedup.contentDefinedChunks(docs, "text", "doc_id", maskBits = 7)
        .count()
    }
    val sample = docs.filter(col("doc_id") % 32 === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampleChars = sample.agg(sum(length(col("text")))).head().getLong(0)
    val (tNativeS, _) = best {
      TextDedup.contentDefinedChunks(sample, "text", "doc_id", maskBits = 7)
        .count()
    }
    // the replaced composition, verbatim (GearCdcSpec's witness)
    val (tComposedS, _) = best {
      val t = col("text")
      val n = length(t)
      val gp = transform(sequence(lit(1), n), p =>
        conv(substring(md5(concat(lit("gear:"), t.substr(p, lit(1)))), 1, 4),
          16, 10).cast("long"))
      def hAt(gpCol: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) = {
        val start = greatest(i - 15, lit(1))
        aggregate(slice(gpCol, start, i - start + 1), lit(0L),
          (acc, x) => pmod(acc * 31 + x, lit(1L << 40)))
      }
      val cuts = filter(sequence(lit(1), n),
        i => pmod(hAt(col("_gp"), i), lit(128L)) === 0)
      sample.filter(n >= 1).withColumn("_gp", gp)
        .select(col("doc_id"), explode(
          when(try_element_at(cuts, lit(-1)) === n, cuts)
            .otherwise(concat(cuts, array(n)))).as("_cut"))
        .count()
    }
    val line =
      f"""{"probe":"cdc_scaling","sf_dir":"$sf","cpus":$cpus,"n_docs":$nDocs,"corpus_chars":$nChars,""" +
      f""""native_full_corpus":{"sec":$tFull%.2f,"chunks":$rowsFull,"mchars_per_sec":${nChars / tFull / 1e6}%.1f},""" +
      f""""sample_1_32":{"chars":$sampleChars,"native_sec":$tNativeS%.2f,"composed_sec":$tComposedS%.2f,"speedup":${tComposedS / tNativeS}%.1f}}"""
    println(line)
    spark.stop()
  }
}
