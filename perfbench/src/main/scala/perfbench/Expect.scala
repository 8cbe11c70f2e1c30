package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected outputs: one line per query, `name<TAB>rows<TAB>digest`, and
  * the `expect` mode that writes them (perfbench/README.md says how they
  * were cross-checked against DuckDB).
  */
object Expect {
  def load(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap

  /** None when `d` matches the expected row count and digest. */
  def check(expected: Map[String, (Long, String)], name: String, d: Digest): Option[String] =
    expected.get(name) match {
      case None => Some("no expected output")
      case Some((rows, _)) if rows != d.rows => Some(s"row count ${d.rows}, expected $rows")
      case Some((_, hex)) if hex != d.hex => Some(s"digest ${d.hex}, expected $hex")
      case _ => None
    }

  /** `SparkEntry.oracleSql` of `names` as a JSON object (the layout
    * tools/compare.py reads).
    */
  def writeOracle(path: String, names: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.render(Json.Obj(
      names.filter(sql.contains).map(n => n -> Json.str(sql(n))))))
  }

  /** Expect mode: run every query of a set once (twice, to flag results
    * that differ between runs), write the expected file, and optionally
    * dump each result as parquet for the DuckDB cross-check. The extra
    * columns are the first run's milliseconds and whether the two runs
    * agreed.
    */
  def run(args: Args): Unit = {
    val spark = Main.session(args)
    val qs = graft.SparkEntry.queries
    val set = args.opts.getOrElse("set", "headline")
    val names = set match {
      case "headline" => graft.Bench.headline.filter(qs.contains)
      case "adhoc" => AdhocInventory.querySet(args.expectedDir)
      case _ => qs.keys.toSeq.sorted
    }
    val dir = s"${args.dataDir}/${args.scale}"
    val dump = args.opts.get("dump")
    val guard = new Guard(spark.sparkContext, args.boundS * 1000)
    dump.foreach(d => writeOracle(s"$d/oracle_sql.json", names))
    val lines = names.map { name =>
      def once(): Either[String, Digest] = guard(name, name)(Digest.execute(qs(name)(spark, dir)))
      val t0 = System.nanoTime()
      val first = once()
      val ms = (System.nanoTime() - t0) / 1e6
      val second = once()
      dump.foreach { d =>
        guard(name, name)(qs(name)(spark, dir).write.mode("overwrite").parquet(s"$d/$name"))
      }
      val line = first match {
        case Right(d) => f"$name\t${d.rows}\t${d.hex}\t$ms%.1f\t${second == first}"
        case Left(err) => s"# $name\tFAILED\t$err"
      }
      System.err.println(line)
      line
    }
    guard.close()
    Files.write(Paths.get(args.out),
      (s"# name\trows\tdigest\tms\tstable  (${args.scale}, ${args.cores} cores)" +: lines).asJava)
    spark.stop()
  }
}
