package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-pass context handed to a workload: the pass works on input unit
  * `unit` (a month, a drop); `outDir` is this pass's own output
  * directory, `runDir` the run's, shared by its passes. */
final class PassCtx(val spark: SparkSession, val tracer: Tracer, val index: Int,
                    val unit: Int, val outDir: String, val runDir: String) {
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val checks: mutable.LinkedHashMap[String, Boolean] = mutable.LinkedHashMap.empty
  private var excludedNs = 0L

  def traced: Boolean = tracer.enabled
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def force(name: String)(df: => DataFrame): DataFrame = tracer.force(name)(df)
  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v
  def check(name: String, ok: Boolean): Unit = checks(name) = checks.getOrElse(name, true) && ok

  /** Work that is not part of the workload (output checks): its wall time
    * is taken out of the pass's timing. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }
  def excluded: Long = excludedNs
}

/** A benchmark workload. Each pass is one job over one input unit; the
  * first pass of a run is its cold pass. */
trait Workload {
  /** Resolve the generated inputs (listing, schemas) — part of set-up. */
  def resolve(spark: SparkSession, inDir: String, manifest: JsonNode): Unit
  /** How many input units the generated inputs hold. */
  def units: Int
  /** The units of a traced run's passes, in order; see [[Main.TracedFlags]]. */
  def tracedUnits: Seq[Int]
  def jobName(unit: Int): String
  def pass(ctx: PassCtx): Unit
  /** Bytes the run has left on disk, its inputs not counted. */
  def outBytes(ctx: PassCtx): Long = Main.dirBytes(Paths.get(ctx.runDir))
  /** Checks over the run's final state, outside the timed region. */
  def runEndCheck(ctx: PassCtx): Unit = ()
}

/** Benchmark entry point (one JVM = one run of one workload).
  *
  * {{{
  * perfbench.Main --workload W --in DIR --out DIR --trace 0|1 --cpus N
  * }}}
  *
  * Prints `PERFBENCH_READY <epoch ms>` once the session is built and the
  * inputs are resolved, and `PERFBENCH_RESULT <path>` once the run's
  * result file is written.
  */
object Main {
  /** An untraced run: the cold pass, then two warm passes, over units 0, 1, 2. */
  val UntracedUnits: Seq[Int] = Seq(0, 1, 2)
  /** Which passes of a traced run are traced: the traced cold pass, the
    * untraced passes of an untraced run (the first warms the untraced
    * plans up), then traced and untraced warm passes in ABBA order over
    * the same units or units of the same work. */
  val TracedFlags: Seq[Boolean] = Seq(true, false, false, true, true, false)

  def workload(name: String): Workload = name match {
    case "finance_refresh" => new FinanceRefresh
    case "drop_cadence" => new DropCadence
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val inDir = args("in")
    val outDir = args("out")
    val tracer = new Tracer(args("trace") == "1")
    val cpus = args("cpus").toInt

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val manifest = mapper.readTree(Paths.get(inDir, "manifest.json").toFile)
    val w = workload(name)
    val t0Ns = System.nanoTime()
    val spark = tracer.span("engine.session")(graft.Engine.session(s"perfbench-$name", cpus))
    tracer.attach(spark)
    w.resolve(spark, inDir, manifest)
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")

    // a fixed schedule, so the work measured never depends on the
    // program's speed
    val schedule =
      if (tracer.enabled) w.tracedUnits.zip(TracedFlags) else UntracedUnits.map(_ -> false)
    require(schedule.forall(_._1 < w.units), s"the inputs hold ${w.units} units")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var ctx: PassCtx = null
    val it = schedule.iterator
    var failed = false
    while (!failed && it.hasNext) {
      val (unit, tracedPass) = it.next()
      val i = passes.size
      val t = if (tracedPass) tracer else new Tracer(false)
      tracer.run = if (tracedPass) i else -1
      val dir = s"$outDir/pass$i"
      Files.createDirectories(Paths.get(dir))
      ctx = new PassCtx(spark, t, i, unit, dir, outDir)
      val p0 = System.nanoTime()
      val error =
        try { t.span("pass")(t.span(s"job.${w.jobName(unit)}")(w.pass(ctx))); "" }
        catch { case e: Throwable =>
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}" }
      val wall = (System.nanoTime() - p0 - ctx.excluded) / 1e9
      spark.catalog.clearCache()
      failed = error.nonEmpty
      passes += Map("index" -> i, "unit" -> unit, "job" -> w.jobName(unit),
        "traced" -> tracedPass, "wall_s" -> wall, "ok" -> !failed, "error" -> error,
        "counts" -> ctx.counts.toMap, "checks" -> ctx.checks.toMap,
        "out_bytes" -> w.outBytes(ctx))
    }
    val endChecks: Map[String, Boolean] =
      if (failed) Map.empty
      else {
        val end = new PassCtx(spark, new Tracer(false), ctx.index, ctx.unit, ctx.outDir, outDir)
        try w.runEndCheck(end)
        catch { case e: Throwable =>
          System.err.println(s"run-end check failed: $e"); end.check("run_end", ok = false) }
        end.checks.toMap
      }

    val trace: Map[String, Any] =
      if (!tracer.enabled) Map.empty
      else {
        tracer.settle()
        Map("spans" -> tracer.spanRecords(t0Ns), "self_gc_s" -> tracer.selfGcS.map {
          case (k, v) => k.toString -> v })
      }
    val result = Map[String, Any]("workload" -> name, "cpus" -> cpus,
      "passes" -> passes.toSeq, "run_end_checks" -> endChecks, "trace" -> trace)
    val path = Paths.get(outDir, "result.json")
    mapper.writeValue(path.toFile, result)
    println(s"PERFBENCH_RESULT $path")
    spark.stop()
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def dirBytes(p: Path): Long = files(p).map(Files.size).sum
  def dirFiles(p: Path): Long = files(p).size.toLong
}
