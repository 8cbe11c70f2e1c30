package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One home per capability: the query inventory lives in the capability
  * modules under `graft.queries`, each listed once in [[SparkEntry]].
  * An unlisted module would drop its queries from the inventory without
  * an error, and a module named after the change that added it (a wave,
  * a round) hides which capability it holds.
  */
class InventoryGuardSpec extends AnyFunSuite {

  private val queriesDir = Paths.get("src/main/scala/graft/queries")

  private def queryObjects: Map[String, String] = {
    assert(Files.isDirectory(queriesDir), s"no query sources under ${queriesDir.toAbsolutePath}")
    val walk = Files.walk(queriesDir)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        "(?m)^object (\\w+)".r.findAllMatchIn(Files.readString(p))
          .map(m => m.group(1) -> p.getFileName.toString)
      }.toMap
    finally walk.close()
  }

  test("every query module is listed in SparkEntry") {
    val entry = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val unlisted = queryObjects.keySet.filterNot(o => s"\\b$o\\.defs\\b".r.findFirstIn(entry).isDefined)
    assert(queryObjects.nonEmpty)
    assert(unlisted.isEmpty, s"query modules missing from SparkEntry: ${unlisted.toSeq.sorted}")
  }

  test("no query module is named by the round that added it") {
    val byRound = queryObjects.filter { case (o, f) =>
      "Wave\\d|Shapes\\d|Round\\d|Family\\d".r.findFirstIn(o + " " + f).isDefined
    }
    assert(byRound.isEmpty, s"round-named query modules: ${byRound.keys.toSeq.sorted}")
  }

  test("the inventory holds exactly the expected query names") {
    val expected = Files.readAllLines(Paths.get("perfbench/expected/inventory_sf0.01.tsv")).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")(0)).toSet
    val names = SparkEntry.queries.keySet
    assert(expected.size == 355)
    assert(names -- expected == Set.empty, "queries not in the expected inventory")
    assert(expected -- names == Set.empty, "expected queries missing from the inventory")
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
  }

  test("a query name defined twice fails with that name") {
    val q = QueryDef.sql("dup_name", Seq("nation"), "SELECT 1")
    val other = QueryDef.sql("other_name", Seq("nation"), "SELECT 2")
    val e = intercept[IllegalArgumentException](SparkEntry.unique(Seq(q, other, q)))
    assert(e.getMessage.contains("dup_name"))
    assert(!e.getMessage.contains("other_name"))
    assert(SparkEntry.unique(Seq(q, other)) == Seq(q, other))
  }
}
