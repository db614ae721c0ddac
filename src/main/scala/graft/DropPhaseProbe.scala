package graft

import org.apache.spark.sql.functions._
import graft.pipelines.IncrementalCuration
import graft.sources.Sinks
import graft.operators.TextDedup

/** Decompose publishDrop's wall time at cadence cycle-3 shape
  * (~375k-doc corpus, ~125k-doc drop) into its phases — the diagnosis
  * record behind the r18 publish-cost work (BASELINE.md round 18):
  * which terms ride the delta (hash pass, segment writes, pair
  * shuffles) vs the corpus (the store's shuffle-free columnar scan,
  * the metadata-narrow curated write). Writes DROP_PHASES.json.
  */
object DropPhaseProbe {
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("testdata-sf10")
    val spark = Engine.session("graft-dropphase")
    val root = java.nio.file.Files.createTempDirectory("dropphase").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val drop = docs.filter(col("doc_id") % 4 === 0)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      phases(label) = sec
      println(f"[phase] $label: $sec%.2f s"); r
    }
    t("bootstrap total") {
      IncrementalCuration.bootstrap(corpus, root, "text", "doc_id")
    }
    // === publishDrop, phase by phase (mirrors the function body) ===
    val st = t("readState")(IncrementalCuration.readState(spark, root))
    val dIds = t("delta ids ckpt")(
      drop.select(col("doc_id")).localCheckpoint())
    t("pure-add check") {
      Sinks.Versioned.read(spark, s"$root/corpus").select("doc_id")
        .join(broadcast(dIds), Seq("doc_id"), "left_semi").count()
    }
    val dh = t("delta hash ckpt")(
      TextDedup.hashedShingles(drop, "text", "doc_id").localCheckpoint())
    val dsz = t("delta sizes ckpt")(
      dh.groupBy("doc").agg(count(lit(1)).cast("int").as("sz")).localCheckpoint())
    val within = TextDedup.jaccardPairsFromHashed(dh, dsz)
      .select("doc_a", "doc_b")
    t("within pairs")(within.count())
    val cross = TextDedup.jaccardPairsCrossStoredFromHashed(dh, dsz,
        IncrementalCuration.validShingles(st),
        IncrementalCuration.validSizes(st))
      .select(least(col("new_id"), col("corpus_id")).as("doc_a"),
        greatest(col("new_id"), col("corpus_id")).as("doc_b"))
    t("cross pairs")(cross.count())
    val newEdges = t("newEdges ckpt")(
      within.unionByName(cross).localCheckpoint())
    t("corpus writeDelta")(Sinks.Versioned.writeDelta(drop, s"$root/corpus"))
    t("edges writeDelta")(Sinks.Versioned.writeDelta(newEdges, s"$root/edges"))
    t("sh segment write")(Sinks.Versioned.writeDelta(
      dh.withColumn("rel", lit(1)), s"$root/sh"))
    t("sz segment write")(Sinks.Versioned.writeDelta(
      dsz.withColumn("rel", lit(1)), s"$root/sz"))
    val newCorpus = Sinks.Versioned.read(spark, s"$root/corpus")
    t("curate (CC + write)") {
      Sinks.Versioned.write(IncrementalCuration.curatedFromEdges(
        newCorpus, "doc_id", st.edges.unionByName(newEdges)), s"$root/curated")
    }
    val line = s"""{"probe":"drop_phases","sf_dir":"$dir","phases":{""" +
      phases.map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",") + "}}"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("DROP_PHASES.json"), line.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
