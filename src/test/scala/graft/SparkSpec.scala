package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for unit specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = scala.collection.mutable.Buffer[Path]()

  /** A fresh directory under java.io.tmpdir, deleted with everything in
    * it when the suite ends.
    */
  protected def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  // the session is shared across suites; only the suite's own
  // directories go
  override def afterAll(): Unit = tempDirs.synchronized {
    tempDirs.foreach(SparkSpec.deleteTree)
    tempDirs.clear()
  }
}

object SparkSpec {
  /** Deletes `root` and everything under it, deepest first. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  private lazy val warehouse: Path = {
    val dir = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", warehouse.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // Tz-less parquet timestamps (one observed testdata regeneration)
    // must surface as TimestampType, not NTZ — see Tables.apply.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config(Engine.sharedConf)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
