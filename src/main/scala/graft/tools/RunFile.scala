package graft.tools

import java.nio.file.{Files, Paths}

/** Runs one ClickHouse SQL file — a corpus test or a single statement —
  * exactly as the stateless sweep does ([[StatelessSweep.session]] and
  * [[StatelessSweep.run]]), then prints its text output, or its error
  * and exits 1.
  *
  *   sbt "runMain graft.tools.RunFile <file.sql>"
  */
object RunFile {
  def main(args: Array[String]): Unit = {
    val spark = StatelessSweep.session(StatelessSweep.corpusTz)
    val result =
      try StatelessSweep.run(spark, Files.readString(Paths.get(args(0))))
      finally spark.stop()
    result match {
      case Right(out) => println(out)
      case Left(err) =>
        System.err.println(s"ERROR $err")
        sys.exit(1)
    }
  }
}
