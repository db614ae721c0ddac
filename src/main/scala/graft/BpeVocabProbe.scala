package graft

import org.apache.spark.sql.functions._

/** Measures the driver-collected state of `BpeTrain.learnMergesLocal`:
  * the distinct-word count surviving each `minFreq` cut, at whatever
  * scale factor `args(0)` points at. This is the number the trainer's
  * `maxVocab` guard bounds — recorded in SCALE.md ("BPE driver-vocab
  * bound") so "the vocab fits the driver" is a measurement, not prose.
  *
  * Emits one JSON line: total corpus words, distinct words, and the
  * vocab size at minFreq ∈ {1, 2, 4, 8, 16}.
  */
object BpeVocabProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Engine.session("bpe-vocab-probe")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val wf = graft.operators.BpeTrain.wordFreqs(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = wf.agg(sum("freq")).head().getLong(0)
    val cuts = Seq(1L, 2L, 4L, 8L, 16L).map { mf =>
      mf -> wf.filter(col("freq") >= mf).count()
    }
    wf.unpersist()
    val cutJson = cuts.map { case (mf, n) => s""""minFreq_$mf":$n""" }.mkString(",")
    println(s"""{"probe":"bpe_vocab","sf_dir":"$sfDir","total_words":$total,$cutJson}""")
    spark.stop()
  }
}
