package graft.tools

import graft.sql.{ChFormat, ChTranspiler}

/** Dev-only scratch runner: transpile + execute one ClickHouse SQL
  * statement (args mkString) and print the transpiled text, the result
  * in TabSeparated form, and the full stack on failure.
  */
object SqlTry {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.ClickHouseAliases.injectStrict(spark)
    val sql = args.mkString(" ")
    ChTranspiler.statements(sql).foreach { stmt =>
      val t = ChTranspiler.transpile(stmt)
      println(s"[transpiled] $t")
      try println(ChFormat.formatRows(spark.sql(t).collect().toSeq,
        java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))))
      catch { case e: Throwable => e.printStackTrace() }
    }
    spark.stop()
  }
}
