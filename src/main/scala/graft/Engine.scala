package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Public entry point of the library: a tuned SparkSession factory, the
  * TESTDATA catalog, and a SQL front door. The factory's sessions carry
  * [[GraftExtensions]], which injects every engine SQL function and
  * rewrite rule into them and into each of their `newSession()`
  * children — the Spark-native analogue of the reference's session +
  * function-factory bootstrap.
  */
object Engine {

  /** Build a session with the scale-relevant optimizer features on: AQE
    * (runtime re-planning + skew handling), CBO, runtime bloom filters,
    * parquet aggregate pushdown. `shufflePartitions` should track the
    * cluster's effective parallelism (matches cores in local mode).
    * `codegenCacheEntries` sizes the JVM-wide compiled-class cache (a
    * static conf): a session that runs the same queries again, like a
    * bench or an oracle dump, needs it above the whole workload's class
    * count, or a query's classes are evicted before its next run. The
    * default keeps Spark's 100: 2000 entries cost an ad-hoc workload 21%
    * more retained heap for fewer compiles.
    *
    * Every session also carries [[sharedConf]]. Per-session artifact
    * isolation is off: the engine adds no session jars or files, so
    * isolation only gave every session — each `newSession()` child, i.e.
    * every ad-hoc client and every corpus file — its own executor class
    * loader, and with it its own copy of every compiled class. Turning
    * it back on would cost
    * about 9% of the ad-hoc workload's median query latency (perfbench
    * `adhoc_inventory`, 4 vCPUs): each new session recompiles what the
    * JVM already holds, its copies crowd the codegen cache, and Janino's
    * missed class lookups on task threads go through an RPC class fetch
    * from the driver. The price of sharing: a jar or file added to one
    * session (`addArtifact`, `ADD JAR`) would be seen by all of them.
    * And `file:` paths go through [[graft.sources.LocalFiles]], which
    * answers Hadoop's per-file `chmod` and `readlink` without starting a
    * process (40 per streaming trigger on the stream thread alone).
    */
  def session(master: String = "local[*]", shufflePartitions: Int = 32,
              codegenCacheEntries: Int = 100): SparkSession = {
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Tz-less parquet timestamps (one observed testdata regeneration)
      // must surface as TimestampType, not NTZ — see Tables.apply.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config(sharedConf)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The settings every session of the JVM shares, applied by each
    * session factory and the test session alike:
    *
    *  - Spark's per-session artifact isolation, off, so every session
    *    shares one compiled class per generated source. Spark keys its
    *    compiled-class cache (`CodeGenerator.compile`) on the thread's
    *    context class loader as well as the source; with isolation on (the
    *    default), each session's jobs carry its own `JobArtifactState`, so
    *    their tasks run under a per-session executor class loader and miss
    *    every class another session compiled. The one compiled-expression
    *    cache per server process, shared by every session, is the
    *    reference's behaviour too.
    *  - [[graft.sources.LocalFiles.conf]]: graft's fork-free classes serve
    *    `file:` for the FileSystem and FileContext APIs.
    *
    * Child sessions (`newSession()`) inherit both from the factory's
    * SparkContext. Hadoop caches its FileSystem per scheme whatever the
    * conf, so the first session of a JVM decides which class serves
    * `file:`.
    */
  val sharedConf: Map[String, String] =
    Map(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false") ++
      graft.sources.LocalFiles.conf

  /** Install the engine's udfs ([[GraftExtensions.udfs]]) into a session
    * that was built without [[GraftExtensions]], skipping every name the
    * session already resolves. Every session [[session]] builds, and
    * every `newSession()` child of one, already has them (the extension
    * injects them), so on those this does nothing and replaces nothing.
    * Library code never needs it; it stays for callers written against
    * the older per-session registration.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.udfs.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** SQL front door over an sf directory: registers the catalog and runs
    * the text through Spark SQL (custom functions available).
    */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(text)
  }
}

/** geohashDecode's (longitude, latitude) tuple — field names match the
  * CH positional access convention (`.1` → col1).
  */
case class GeoPoint(col1: Double, col2: Double)
