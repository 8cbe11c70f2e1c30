package graft.tools
import org.apache.spark.sql.SparkSession
import graft.sql.ChTranspiler

object RunFile {
  def chSqlDebug(spark: SparkSession, stripped: String): org.apache.spark.sql.DataFrame = {
    var sqlText = ChTranspiler.transpile(stripped)
    var triedInline = false
    var attempts = 0
    while (true) {
      try return spark.sql(sqlText)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val m = String.valueOf(e.getMessage)
          println(s"  [retry $attempts] err=${m.take(150).replaceAll("\n"," ")}")
          val dis =
            if (attempts >= 8) None
            else ChTranspiler.disambiguateAt(sqlText, m).orElse(
              ChTranspiler.disambiguate(sqlText, m)).orElse(
              ChTranspiler.fixUsingAlias(sqlText, m))
          dis match {
            case Some(s) if s != sqlText =>
              sqlText = s; attempts += 1
              println(s"  [retry] now: ${sqlText.take(200).replaceAll("\n"," ")}")
            case _ if m.contains("UNRESOLVED_COLUMN") && !triedInline =>
              triedInline = true
              sqlText = ChTranspiler.inlineSelectAliases(sqlText)
              println(s"  [inline] now: ${sqlText.take(200).replaceAll("\n"," ")}")
            case _ => throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def main(args: Array[String]): Unit = {
    val spark = StatelessSweep.session(StatelessSweep.corpusTz)
    val session = new graft.sql.ChSession(spark)
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(0))), "UTF-8")
    graft.sql.ChTranspiler.statementsRawAll(text).foreach { case (raw, clean) =>
      if (clean.nonEmpty) {
        try {
          session.execute(graft.sql.ChSession.stripDbRefs(clean)) match {
            case graft.sql.ChSession.NotHandled =>
              println(s"RUN ${clean.take(100).replaceAll("\\s+"," ")}")
              val rows = chSqlDebug(spark, graft.sql.ChSession.stripDbRefs(clean)).collect()
              println("  => " + rows.take(5).mkString(" | "))
            case _ => println(s"SESS ${clean.take(100).replaceAll("\\s+"," ")}")
          }
        } catch { case e: Throwable =>
          println(s"FAIL ${clean.take(150).replaceAll("\\s+"," ")}")
          println("  -> " + String.valueOf(e.getMessage).take(250).replaceAll("\n"," | "))
        }
      }
    }
    spark.stop()
  }
}
