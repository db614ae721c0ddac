package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.pipelines.{DorVpCompare, DuplicatesReport, StudyStartupMerge}
import graft.sources.{Excel, FileSources, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The monthly DOR↔ViewPoint refresh, one generated month per pass:
  * ingest every source format, reconcile, report duplicates, merge the
  * study-startup tables, and write the CSV reports and the workbook.
  */
final class FinanceRefresh extends Workload {
  private case class Month(dir: String, start: String, end: String, dorSkip: Int, vpSkip: Int)
  private var months: Seq[Month] = Nil
  private var vpCols: Seq[String] = Nil
  private var spark: SparkSession = _

  /** TRAC columns renamed to their OneLink counterparts, so the startup
    * merge unions the two tables on them. */
  private val TracAsOneLink = Seq("ProjectID" -> "Project", "StudyTitle" -> "Project Title",
    "PerformanceStartDate" -> "Award Begin Date")

  def resolve(s: SparkSession, inDir: String, manifest: JsonNode): Unit = {
    spark = s
    val spec = manifest.get("spec")
    months = spec.get("months").elements().asScala.map { m =>
      Month(s"$inDir/${m.get("dir").asText}", m.get("start").asText, m.get("end").asText,
        m.get("dor_skip_rows").asInt, m.get("vp_skip_rows").asInt)
    }.toSeq
    vpCols = spec.get("vp_columns").elements().asScala.map(_.asText).toSeq
    months.foreach(m => require(new java.io.File(s"${m.dir}/dor.xlsx").isFile, s"missing ${m.dir}"))
  }

  /** Every column as a string (the reference's untyped ingest), so the
    * differently-inferred sources union by name. */
  private def strings(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => col(s"`$c`").cast("string").as(c)): _*)

  private def read(ctx: PassCtx, name: String)(df: => DataFrame): DataFrame = {
    val out = ctx.force(name)(df)
    if (ctx.traced) ctx.add(name + "_rows", out.count().toDouble)
    out
  }

  def units: Int = months.size
  /** Months 2 and 1 are refreshed again, traced, between untraced
    * refreshes of the same months. */
  def tracedUnits: Seq[Int] = Seq(0, 1, 2, 2, 1, 1)
  def jobName(unit: Int): String = months(unit).dir.split('/').last

  def pass(ctx: PassCtx): Unit = {
    import DorVpCompare._
    val m = months(ctx.unit)
    val out = s"${ctx.outDir}/${jobName(ctx.unit)}"
    val newest = ctx.span("sources.latest_file") {
      FileSources.latestFile(spark, s"${m.dir}/onelink", """^onelink_\d{8}\.csv$""")
        .getOrElse(throw new IllegalStateException(s"no OneLink snapshot under ${m.dir}"))
    }
    val onelink = read(ctx, "sources.read_csv_utf16")(FileSources.csvUtf16(spark, newest))
    val trac = read(ctx, "sources.read_json")(FileSources.flattenRecords(
      FileSources.jsonWholeDoc(spark, s"${m.dir}/trac.json", "UTF-16"), "TRAC_Data"))
    val dorRaw = read(ctx, "sources.read_xlsx")(
      Excel.read(spark, s"${m.dir}/dor.xlsx", skipRows = m.dorSkip))
    val vpXlsx = read(ctx, "sources.read_xlsx")(
      Excel.read(spark, s"${m.dir}/vp.xlsx", skipRows = m.vpSkip))
    val vpCsv = read(ctx, "sources.read_csv")(FileSources.csv(spark, s"${m.dir}/vp_dump.csv"))
    val vpJson = read(ctx, "sources.read_ndjson")(FileSources.ndjson(spark, s"${m.dir}/vp_dump.ndjson"))
    val vpRaw = Seq(vpXlsx, vpCsv, vpJson).map(strings(_, vpCols)).reduce(_ unionByName _)

    val dor = ctx.force("pipelines.clean")(cleanDor(dorRaw, m.start, m.end))
    val (vpGrouped0, vpDetail0) = cleanVp(vpRaw, m.start, m.end)
    val vpGrouped = ctx.force("pipelines.clean")(vpGrouped0)
    val vpDetail = ctx.force("pipelines.clean")(vpDetail0)
    val merged = ctx.force("operators.reconcile")(DorVpCompare.merge(dor, vpGrouped))
    val summ = ctx.force("operators.reconcile")(summary(merged))
    val mergeCounts = ctx.force("operators.reconcile")(merged.groupBy("_merge").count())
    val dups = ctx.force("operators.dup_report")(DuplicatesReport.report(vpRaw, vpCols))
    val legacy = TracAsOneLink.foldLeft(strings(trac, trac.columns.toSeq)) {
      case (df, (from, to)) => df.withColumnRenamed(from, to) }
    val startup = ctx.force("pipelines.startup_merge")(StudyStartupMerge.merge(
      strings(onelink, onelink.columns.toSeq), legacy,
      Seq(col("Project"), col("Project Title")), recoverCol = Some("ReferenceNum")))

    ctx.span("sources.write_csv") {
      Sinks.writeSingleCsv(summ, s"$out/summary.csv")
      Sinks.writeSingleCsv(mergeCounts, s"$out/merge_counts.csv")
      Sinks.writeSingleCsv(dups, s"$out/duplicates.csv")
      Sinks.writeSingleCsv(startup, s"$out/study_startup.csv")
    }
    ctx.span("sources.write_xlsx") {
      writeWorkbook(summ, merged,
        dor.select(DorId, DorTitle, DorAmount, DorProgram).orderBy(DorId),
        vpDetail.select(VpId, VpStudy, VpDate, VpAmount).orderBy(VpId, VpDate),
        s"$out/reconciliation.xlsx")
    }
    if (ctx.traced) ctx.add("sources.write_bytes",
      Main.dirBytes(java.nio.file.Paths.get(out)).toDouble)
  }
}
