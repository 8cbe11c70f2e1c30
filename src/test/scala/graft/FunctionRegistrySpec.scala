package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One function registry: [[GraftExtensions]] injects every engine SQL
  * function into every session, so no session needs a registration call
  * and no injected name silently replaces another.
  */
class FunctionRegistrySpec extends SparkSpec {

  private def sources(dir: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("injected function names are unique, case-insensitively") {
    // the registry is case-insensitive: a repeated name keeps only the
    // entry injected last, and the others are dead code
    val dupes = GraftExtensions.functions.map(_._1.funcName.toLowerCase)
      .groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dupes.isEmpty, s"names injected more than once: ${dupes.toSeq.sorted}")
  }

  test("corpus-only function names are unique, case-insensitively") {
    val dupes = graft.sql.ClickHouseAliases.strictFunctions.map(_._1.funcName.toLowerCase)
      .groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dupes.isEmpty, s"corpus-only names registered more than once: ${dupes.toSeq.sorted}")
  }

  test("2-argument geohashEncode resolves in an Engine.session child") {
    // Engine.session returns the suite's running session with its runtime
    // settings applied; put the session's settings back afterwards
    val conf = spark.sessionState.conf
    val before = conf.getAllConfs
    val child = try Engine.session("local[4]", 4).newSession()
    finally {
      conf.getAllConfs.keys.filterNot(before.contains).foreach(conf.unsetConf)
      before.foreach { case (k, v) => if (conf.getConfString(k, null) != v) conf.setConfString(k, v) }
    }
    val r = child.sql(
      "SELECT geohashEncode(-5.6, 42.6) AS h, geohashEncode(-5.6, 42.6, 12) AS h12").head
    assert(r.getString(0).startsWith("ezs42"))
    assert(r.getString(0) === r.getString(1))
  }

  test("no session registers functions itself") {
    val udfRegister = "udf\\.register".r
    val registerCall = """(?<!def )registerFunctions\(""".r
    val main = sources("src/main/scala")
    assert(main.nonEmpty)
    val registering = main.filter { case (_, text) => udfRegister.findFirstIn(text).nonEmpty }
    assert(registering.isEmpty, s"per-session udf registration in ${registering.map(_._1)}")
    val callers = (main ++ sources("src/test/scala"))
      .filter { case (_, text) => registerCall.findFirstIn(text).nonEmpty }
    assert(callers.isEmpty, s"registerFunctions called in ${callers.map(_._1)}")
  }

  private val probe =
    """SELECT sumForEach(a) AS s, bitmapCardinality(bitmapBuild(array(1L, 2L, 3L))) AS c,
      |  h3GetResolution(599686042433355775L) AS r, geohashDecode('ezs42').col2 AS lat,
      |  thetaSketchToEstimate(uniqThetaUnion(CAST(NULL AS BINARY), CAST(NULL AS BINARY))) AS t
      |FROM VALUES (array(1D, 2D)), (array(3D, 4D)) AS v(a)""".stripMargin

  private def resolvesEngineFunctions(s: SparkSession): Unit = {
    val df = s.sql(probe)
    df.queryExecution.assertAnalyzed()
    val r = df.drop("t").collect().head
    assert(r.getSeq[Double](0) == Seq(4.0, 6.0))
    assert(r.getLong(1) == 3L)
    assert(r.getInt(2) == 5)
    assert(math.abs(r.getDouble(3) - 42.6) < 0.1)
  }

  test("a fresh newSession() child resolves the engine's udfs") {
    resolvesEngineFunctions(spark.newSession())
  }

  test("a corpus-configured child resolves the engine's udfs") {
    resolvesEngineFunctions(
      graft.tools.StatelessSweep.configure(spark.newSession(), "UTC"))
  }
}
