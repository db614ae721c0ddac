package graft

/** Lifecycle of the memoized base-relation cache (`Tables.relCache`):
  * entries are keyed by session IDENTITY and swept when their session
  * dies. A spec cannot stop the suite-shared SparkContext (in Spark,
  * `session.stop()` stops the context every suite in this JVM shares),
  * so the sweep mechanics are pinned here against live sessions via
  * the predicate form, and the real listener-fired stop path runs in a
  * child JVM ([[RelCacheStop]]) that owns its context.
  */
class RelCacheSpec extends SparkSpec {

  test("cache keys by session identity; evictWhere drops exactly the match") {
    val child = spark.newSession()
    // populate both sessions' entries for the same path
    Tables.region(spark, sf).count()
    Tables.region(child, sf).count()
    assert(Tables.cachedPaths(spark).contains(s"$sf/region.parquet"))
    assert(Tables.cachedPaths(child).contains(s"$sf/region.parquet"))

    val evicted = Tables.evictWhere(_ eq child)
    assert(evicted >= 1, "child session's entries were not swept")
    assert(Tables.cachedPaths(child).isEmpty,
      "evictWhere left entries for the evicted session")
    assert(Tables.cachedPaths(spark).contains(s"$sf/region.parquet"),
      "evictWhere must not touch other sessions' entries")
  }

  test("invalidatePath drops entries under the prefix for every session") {
    val child = spark.newSession()
    Tables.customer(spark, sf).count()
    Tables.customer(child, sf).count()
    val n = Tables.invalidatePath(sf)
    assert(n >= 2, s"expected both sessions' $sf entries dropped, got $n")
    // assert emptiness on the child only: a concurrently-running suite
    // may legitimately repopulate the SHARED session's entries between
    // the invalidate and this line
    assert(!Tables.cachedPaths(child).exists(_.startsWith(sf)))
    // repopulates on next read
    assert(Tables.customer(child, sf).count() > 0)
    assert(Tables.cachedPaths(child).exists(_.startsWith(sf)))
  }

  test("evictStopped is a no-op while sessions are live; re-read repopulates") {
    Tables.nation(spark, sf).count()
    assert(Tables.evictStopped() == 0,
      "evictStopped swept entries of a live context")
    assert(Tables.cachedPaths(spark).contains(s"$sf/nation.parquet"))
    // a swept session repopulates transparently on next read
    val child = spark.newSession()
    Tables.nation(child, sf)
    Tables.evictWhere(_ eq child)
    assert(Tables.nation(child, sf).count() > 0)
    assert(Tables.cachedPaths(child).contains(s"$sf/nation.parquet"))
  }

  test("a really stopped session is swept by the application-end listener (child JVM)") {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the inherited input arguments carry the --add-opens flags Spark needs
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), "graft.RelCacheStop", sf)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, s"child JVM failed:\n${out.takeRight(4000)}")
  }
}

/** Child-JVM half of RelCacheSpec: reads one table through `Tables`,
  * stops the session for real and exits non-zero if the cache kept
  * any entry for it. Usage: `RelCacheStop <sfDir>`.
  */
object RelCacheStop {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-relcache-stop", 1)
    Tables.region(spark, args(0)).count()
    require(Tables.cachedPaths(spark).nonEmpty, "the read did not populate the cache")
    spark.stop()
    val left = Tables.cachedPaths(spark)
    if (left.nonEmpty) {
      System.err.println(s"Tables.relCache retained $left for a stopped session")
      sys.exit(1)
    }
  }
}
