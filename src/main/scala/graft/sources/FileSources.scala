package graft.sources

import graft.operators.Partitioning
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-side utilities (SURVEY.md §2.1: S1-S13).
  *
  * The tabular readers are thin, explicit wrappers over Spark's built-in
  * sources with the reference's encoding quirks (UTF-16 CSV/JSON, BOM,
  * NDJSON) pre-configured. `latestFile` reproduces the reference's
  * "newest monthly drop wins" ingestion (S12) as a driver-side listing —
  * a metadata operation, deliberately NOT a distributed job.
  */
object FileSources {

  /** S1: header CSV with schema inference. Multi-byte encodings (UTF-16)
    * need an explicit lineSep so record splitting happens in the target
    * charset, not on raw single-byte newlines.
    */
  def csv(spark: SparkSession, path: String, encoding: String = "UTF-8",
          lineSep: String = "\n"): DataFrame = {
    val r = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("encoding", encoding)
    val r2 = if (encoding.toUpperCase.startsWith("UTF-16"))
      r.option("lineSep", lineSep) else r
    r2.csv(path)
  }

  /** Schema-enforced CSV with malformed-row quarantine: rows that fail
    * the declared schema land in a `_corrupt` column instead of
    * (silently, PERMISSIVE) nulling fields or (FAILFAST) killing the
    * job — at 100 TB a bad export always exists somewhere, and the
    * triage question is "what and how many", not "stack trace or
    * garbage". Returns (clean rows without `_corrupt`, quarantined raw
    * lines). Callers count/inspect the quarantine frame and decide;
    * nothing is dropped silently.
    */
  def csvWithQuarantine(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        header: Boolean = true): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt", "string")
    // BOTH frames parse via from_csv over a text scan: Spark forbids any
    // query over a raw CSV scan whose referenced columns reduce to the
    // corrupt column only (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — which is
    // what clean.count() AND quarantined.count(), the first triage
    // questions, both plan to. from_csv has no such restriction, and
    // the quarantine keeps the half-parsed typed fields NEXT TO the raw
    // line. The canonical header line (names joined by ',') is skipped;
    // a custom-quoted header surfaces as one quarantined row — visible,
    // not silent. Limitation (documented): records with embedded
    // newlines inside quotes split as text lines.
    val headerLine = schema.fieldNames.mkString(",")
    val parsed = spark.read.text(path)
      .filter(if (header) col("value") =!= headerLine else lit(true))
      .select(col("value"),
        from_csv(col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt")).as("_p"))
    val fields = schema.fieldNames.map(f => col(s"_p.`$f`")).toSeq
    // A NULL parse struct (the JSON literal `null`, a bare scalar) is a
    // malformed line, not an all-null clean row — route it to quarantine.
    val clean = parsed.filter(col("_p").isNotNull && col("_p._corrupt").isNull)
      .select(fields: _*)
    val quarantined = parsed.filter(col("_p").isNull || col("_p._corrupt").isNotNull)
      .select(fields :+ col("value").as("raw_line"): _*)
    (clean, quarantined)
  }

  /** S2: UTF-16 CSV (OneLink snapshots, json_cleaning.ipynb:64-69).
    *
    * Java's `"\n".getBytes("UTF-16")` prepends a BOM, so the generic
    * "UTF-16" charset can never match a record separator mid-file. Sniff
    * the BOM driver-side, read with the byte-order-explicit charset
    * (whose getBytes emits no BOM), and strip the BOM character that then
    * leaks into the first header name.
    */
  def csvUtf16(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = {
      // sniff a data file, never a `_SUCCESS` marker or `.crc` checksum
      // that happens to list first
      val f = Option(fs.globStatus(p)).getOrElse(Array.empty).map(_.getPath)
        .find(q => Partitioning.isDataFile(q.getName)).getOrElse(p)
      val st = if (fs.getFileStatus(f).isDirectory)
        fs.listStatus(f).filter(s => s.isFile && Partitioning.isDataFile(s.getPath.getName))
          .map(_.getPath).sortBy(_.getName).headOption
          .getOrElse(throw new IllegalArgumentException(s"csvUtf16: no data file under $path"))
      else f
      val in = fs.open(st)
      try {
        val len = math.min(fs.getFileStatus(st).getLen, 8192L).toInt
        val b = new Array[Byte](len); in.readFully(0, b); b
      } finally in.close()
    }
    val enc = if (head.length >= 2 && head(0) == 0xFE.toByte && head(1) == 0xFF.toByte)
      "UTF-16BE" else "UTF-16LE"
    // Windows exports are CRLF: record separator must match the file, or
    // every row's last field keeps a trailing \r
    val text = new String(head, enc)
    val sep = if (text.contains("\r\n")) "\r\n" else "\n"
    val df = csv(spark, path, enc, sep)
    df.columns.headOption match {
      case Some(h) if h.startsWith("\uFEFF") =>
        df.withColumnRenamed(h, h.stripPrefix("\uFEFF"))
      case _ => df
    }
  }

  /** S7: whole-document JSON (multiLine), optionally UTF-16. */
  def jsonWholeDoc(spark: SparkSession, path: String, encoding: String = "UTF-8"): DataFrame =
    spark.read.option("multiLine", "true").option("encoding", encoding).json(path)

  /** S9/S11: NDJSON; multi-file via glob is native. */
  def ndjson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** NDJSON twin of [[csvWithQuarantine]]: schema-enforced parse where
    * malformed lines (bad JSON, type mismatches under the schema) land
    * in a quarantine frame carrying the raw line — same from_json-over-
    * text shape, same "count and inspect, never drop silently" contract.
    */
  def ndjsonWithQuarantine(spark: SparkSession, path: String,
                           schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt", "string")
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"),
        from_json(col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt")).as("_p"))
    val fields = schema.fieldNames.map(f => col(s"_p.`$f`")).toSeq
    // A NULL parse struct (the JSON literal `null`, a bare scalar) is a
    // malformed line, not an all-null clean row — route it to quarantine.
    val clean = parsed.filter(col("_p").isNotNull && col("_p._corrupt").isNull)
      .select(fields: _*)
    val quarantined = parsed.filter(col("_p").isNull || col("_p._corrupt").isNotNull)
      .select(fields :+ col("value").as("raw_line"): _*)
    (clean, quarantined)
  }

  /** S10: flatten an array-of-records wrapper column into a flat table
    * (`pd.json_normalize(raw[wrapper])`).
    */
  def flattenRecords(df: DataFrame, wrapperCol: String): DataFrame =
    df.select(explode(col(wrapperCol)).as("_r")).select(col("_r.*"))

  sealed trait LatestBy
  case object ByName extends LatestBy
  case object ByMtime extends LatestBy

  /** S12: latest-file-in-folder selection — regex filename filter, pick
    * max by lexicographic name (the reference's filename-date sort) or by
    * modification time.
    */
  def latestFile(spark: SparkSession, dir: String, pattern: String,
                 by: LatestBy = ByName): Option[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val re = pattern.r
    val files = fs.listStatus(p).toSeq
      .filter(_.isFile)
      .filter(st => re.findFirstIn(st.getPath.getName).isDefined)
    if (files.isEmpty) None
    else by match {
      case ByName  => Some(files.maxBy(_.getPath.getName).getPath.toString)
      case ByMtime => Some(files.maxBy(_.getModificationTime).getPath.toString)
    }
  }

  /** S13: filename→metadata parse — month-end date from an "MMyy" token
    * (CTP Data Compare.ipynb:55-63), applied as a literal column.
    */
  def withReportMonthEnd(df: DataFrame, mmyyToken: String): DataFrame =
    df.withColumn("report_month_end", last_day(to_date(lit(mmyyToken), "MMyy")))

  /** S15: recursive directory walk (Protocol Data Gathering's PI-folder /
    * protocol-subfolder iteration) as a file-metadata DataFrame —
    * (path, name, depth, size, mtime). The listing itself is driver-side
    * Hadoop FS metadata (as in the reference); returning a DataFrame
    * makes the inventory joinable/filterable like any other table.
    */
  def walkFiles(spark: SparkSession, dir: String, maxDepth: Int = 10): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Long, Long)]
    def walk(p: Path, depth: Int): Unit =
      if (depth <= maxDepth && fs.exists(p)) fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath, depth + 1)
        else acc += ((st.getPath.toString, st.getPath.getName, depth,
          st.getLen, st.getModificationTime))
      }
    walk(root, 0)
    acc.toSeq.toDF("path", "name", "depth", "size", "mtime")
  }

  /** S14: JDBC source (`SELECT * FROM StudyAnalytics`,
    * Study Startup Data Download.sql:4). Single-connection read —
    * right for the reference's view-sized extracts.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** S14 at scale: partition-parallel JDBC read — `numPartitions`
    * connections each pulling a `partitionColumn` range slice. The form
    * to use when the source table is large; the single-connection read
    * funnels everything through one task. Catalyst pushes filters and
    * column pruning through to the remote database in both forms.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lower: Long, upper: Long,
                      numPartitions: Int,
                      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lower, upper, numPartitions, props)
}
