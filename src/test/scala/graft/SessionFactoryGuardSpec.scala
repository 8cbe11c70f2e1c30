package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: library sessions come from [[Engine.session]],
  * corpus sessions from [[graft.tools.StatelessSweep.session]]. A new
  * hand-built session elsewhere in the main sources is a second copy of
  * the factory's settings, free to drift from the one that is verified
  * and benched. Each factory, and the test session, applies
  * [[Engine.sharedConf]], the settings every session of a JVM shares.
  */
class SessionFactoryGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() appears only in the two session factories") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder()"))
        .map((p: Path) => p.getFileName.toString).toSet
      finally walk.close()
    assert(builders == Set("Engine.scala", "StatelessSweep.scala"))
  }

  test("every session factory and the test session apply Engine.sharedConf") {
    val factories = Seq("src/main/scala/graft/Engine.scala",
      "src/main/scala/graft/tools/StatelessSweep.scala",
      "src/test/scala/graft/SparkSpec.scala")
    val missing = factories.filterNot { f =>
      "\\.config\\((graft\\.)?(Engine\\.)?sharedConf\\)".r
        .findFirstIn(Files.readString(Paths.get(f))).isDefined
    }
    assert(missing.isEmpty, s"no .config(Engine.sharedConf) in $missing")
  }
}
