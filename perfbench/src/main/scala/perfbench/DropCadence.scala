package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.pipelines.IncrementalCuration
import graft.sources.Sinks
import graft.streaming.CorpusStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Writes beside reads: the base corpus lands and is bootstrapped, then
  * each pure-add drop lands as files, is drained by the streaming ingest,
  * published by the incremental curation, snapshotted into a versioned
  * store and read back. After every `maintain_every`-th drop the snapshot
  * store is compacted and all versioned stores are vacuumed. One drop
  * cycle per pass and per job; the passes of a run share one cadence, so
  * a run always publishes the same fixed drop sequence.
  */
final class DropCadence extends Workload {
  private var drops: Seq[Seq[String]] = Nil
  private var maintainEvery = 1
  private var schema: StructType = _

  def resolve(spark: SparkSession, inDir: String, manifest: JsonNode): Unit = {
    val spec = manifest.get("spec")
    drops = spec.get("drops").elements().asScala.map(_.get("files").elements().asScala
      .map(f => s"$inDir/${f.asText}").toSeq).toSeq
    maintainEvery = spec.get("maintain_every").asInt
    schema = spark.read.parquet(drops.head.head).schema
  }

  private val Stores = Seq("corpus", "edges", "sh", "sz", "tomb", "curated")

  private case class Dirs(landing: String, state: String, root: String, snap: String)
  private def paths(dir: String) =
    Dirs(s"$dir/landing", s"$dir/stream", s"$dir/curation", s"$dir/snapshots")

  private def land(p: Dirs, d: Int): Unit = {
    Files.createDirectories(Paths.get(p.landing))
    drops(d).zipWithIndex.foreach { case (f, i) =>
      Files.createLink(Paths.get(p.landing, f"d$d%02d-$i%02d.parquet"), Paths.get(f))
    }
  }

  private def drain(ctx: PassCtx, p: Dirs): Unit = {
    val q = ctx.span("streaming.drain") {
      val q = CorpusStream.ingest(ctx.spark, p.landing, schema, p.state)
      q.awaitTermination()
      q
    }
    if (ctx.traced) {
      val progress = q.recentProgress
      ctx.add("streaming.batches", progress.count(_.numInputRows > 0).toDouble)
    }
  }

  private def dropDocs(spark: SparkSession, p: Dirs, d: Int): DataFrame = {
    val rejected = spark.read.parquet(s"${p.state}/dup_pairs")
      .select(col("new_id").cast("long").as("doc_id")).distinct()
    spark.read.parquet(drops(d): _*)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(rejected, Seq("doc_id"), "left_anti")
  }

  /** Unit 0 is the base corpus and drop 1, so the cold pass runs the
    * bootstrap and the first publish; unit u ≥ 1 is drop u + 1. */
  def units: Int = drops.size - 1
  private def drop(unit: Int): Int = unit + 1
  /** Drops cannot be replayed, so the traced warm passes publish other
    * drops than the untraced ones, with the same mix of maintained and
    * plain cycles (maintenance every second drop): untraced drops 3 and 6,
    * traced drops 4 and 5. */
  def tracedUnits: Seq[Int] = Seq(0, 1, 2, 3, 4, 5)
  def jobName(unit: Int): String =
    if (unit == 0) "bootstrap+drop01" else f"drop${drop(unit)}%02d"

  /** The stream state and the versioned stores; the landing directory
    * holds the (hard-linked) inputs. */
  override def outBytes(ctx: PassCtx): Long = {
    val p = paths(s"${ctx.runDir}/cadence")
    Seq(p.state, p.root, p.snap).map(d => Main.dirBytes(Paths.get(d))).sum
  }

  def pass(ctx: PassCtx): Unit = {
    val p = paths(s"${ctx.runDir}/cadence")
    if (ctx.unit == 0) bootstrap(ctx, p)
    cycle(ctx, p, drop(ctx.unit))
    if (ctx.traced) {
      ctx.add("sources.versioned_files",
        (Main.dirFiles(Paths.get(p.root)) + Main.dirFiles(Paths.get(p.snap))).toDouble)
      ctx.add("sources.versioned_bytes",
        (Main.dirBytes(Paths.get(p.root)) + Main.dirBytes(Paths.get(p.snap))).toDouble)
    }
  }

  private def bootstrap(ctx: PassCtx, p: Dirs): Unit = {
    val spark = ctx.spark
    land(p, 0)
    drain(ctx, p)
    val base = spark.read.parquet(s"${p.state}/accepted").select("doc_id", "text")
    ctx.span("pipelines.bootstrap")(IncrementalCuration.bootstrap(base, p.root, "text", "doc_id"))
    ctx.span("sources.versioned_write")(
      Sinks.Versioned.snapshotDelta(spark, s"${p.state}/accepted", p.snap))
  }

  private var lastVacuum = -1

  private def cycle(ctx: PassCtx, p: Dirs, d: Int): Unit = {
    val spark = ctx.spark
    land(p, d)
    drain(ctx, p)
    val delta = dropDocs(spark, p, d)
    if (ctx.traced) {
      val accepted = delta.count().toDouble
      ctx.add("streaming.accepted_rows", accepted)
      ctx.add("streaming.rejected_rows", spark.read.parquet(drops(d): _*).count() - accepted)
    }
    val seq = ctx.span("pipelines.publish_drop")(
      IncrementalCuration.publishDrop(delta, p.root, "text", "doc_id"))
    ctx.span("sources.versioned_write")(
      Sinks.Versioned.snapshotDelta(spark, s"${p.state}/accepted", p.snap))
    ctx.span("sources.versioned_read") {
      IncrementalCuration.curatedAt(spark, p.root, seq).count()
      val (_, cur) = Sinks.Versioned.current(spark, s"${p.root}/curated")
        .getOrElse(throw new IllegalStateException("no curated version"))
      spark.read.parquet(cur).count()
    }
    if (d % maintainEvery == 0) {
      ctx.untimed(checkReadable(ctx, p, lastVacuum))
      lastVacuum = seq
      ctx.span("sources.versioned_compact")(Sinks.Versioned.compact(spark, p.snap))
      ctx.span("sources.versioned_vacuum") {
        Sinks.Versioned.vacuum(spark, p.snap, keep = 2)
        Stores.foreach(s => Sinks.Versioned.vacuum(spark, s"${p.root}/$s", keep = 2))
      }
    }
  }

  /** Every version published since the last vacuum must read back. */
  private def checkReadable(ctx: PassCtx, p: Dirs, after: Int): Unit = {
    val spark = ctx.spark
    val vs = Sinks.Versioned.versions(spark, s"${p.root}/curated").filter(_ > after)
    val ok = vs.nonEmpty && vs.forall { v =>
      IncrementalCuration.curatedAt(spark, p.root, v).count() > 0 &&
        Sinks.Versioned.readAt(spark, s"${p.root}/corpus", v).count() > 0
    }
    ctx.check("versions_readable", ok)
  }

  /** The cadence identity: the incremental ledger and the published
    * curation equal a full recompute over the final corpus; the stream
    * accepted every doc at most once and gave every dropped doc a verdict. */
  override def runEndCheck(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val p = paths(s"${ctx.runDir}/cadence")
    val finalCorpus = Sinks.Versioned.read(spark, s"${p.root}/corpus").localCheckpoint()
    val incEdges = Sinks.Versioned.read(spark, s"${p.root}/edges").localCheckpoint()
    val fullEdges = IncrementalCuration.fullEdges(finalCorpus, "text", "doc_id").localCheckpoint()
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    ctx.check("ledger_parity", same(incEdges, fullEdges))
    val incCurated = Sinks.Versioned.read(spark, s"${p.root}/curated")
    val fullCurated = IncrementalCuration.curatedFromEdges(finalCorpus, "doc_id", fullEdges)
    ctx.check("curation_parity", same(incCurated, fullCurated))
    val accepted = spark.read.parquet(s"${p.state}/accepted").select("doc_id")
    val nAcc = accepted.count()
    ctx.check("accepted_once", accepted.distinct().count() == nAcc)
    val rejected = spark.read.parquet(s"${p.state}/dup_pairs").select(col("new_id").as("doc_id"))
    val nInput = spark.read.parquet(drops.take(drop(ctx.unit) + 1).flatten: _*).count()
    ctx.check("input_covered", accepted.unionByName(rejected).distinct().count() == nInput)
    ctx.check("corpus_is_accepted", finalCorpus.count() == nAcc)
  }
}
