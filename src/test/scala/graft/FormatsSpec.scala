package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Multi-format source/sink parity (reference file/url table functions
  * read CSV/TSV/JSON/Parquet/ORC/… —
  * /root/reference/src/TableFunctions/registerTableFunctions.cpp:37-50,
  * formats in src/Formats/registerFormats.cpp). Spark mapping:
  * spark.read/write.format(...) for parquet/csv/json/orc, plus
  * graft.sources.AvroFiles (avro-mapreduce container files — the
  * spark-avro DataSource module is not bundled) and graft.sources
  * .JdbcSource (embedded Derby exercises the real JDBC scan/sink).
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val src = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")

  private def roundtrip(format: String, opts: Map[String, String]): Unit = {
    val dir = tempDir(s"graft_fmt_$format").toString + "/t"
    src.write.options(opts).format(format).save(dir)
    val back = spark.read.options(opts).schema(src.schema).format(format).load(dir)
    assert(back.count() === src.count(), s"$format row count")
    val a = src.agg(sum($"l_orderkey"), sum($"l_linenumber")).collect()(0)
    val b = back.agg(sum($"l_orderkey"), sum($"l_linenumber")).collect()(0)
    assert(a === b, s"$format content checksum")
  }

  test("csv roundtrip with header") {
    roundtrip("csv", Map("header" -> "true", "timestampFormat" -> "yyyy-MM-dd HH:mm:ss"))
  }
  test("json roundtrip") { roundtrip("json", Map.empty) }
  test("orc roundtrip") { roundtrip("orc", Map.empty) }

  test("orc scan pushes down predicates like parquet") {
    val dir = tempDir("graft_orc_push").toString + "/t"
    src.write.format("orc").save(dir)
    val plan = spark.read.format("orc").load(dir)
      .filter($"l_quantity" > 45.0).select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      plan.take(1200))
  }

  test("avro container-file roundtrip (AvroFiles over bundled avro-mapreduce)") {
    import graft.sources.AvroFiles
    val dir = tempDir("graft_avro").toString + "/t"
    val in = src.select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag",
      $"l_shipdate".cast("string").as("ship"))
    AvroFiles.write(in, dir)
    val back = AvroFiles.read(spark, dir, in.schema)
    assert(back.count() === in.count())
    val a = in.agg(sum($"l_orderkey"), sum($"l_linenumber"),
      graft.Num.dsum2($"l_quantity"), max($"ship")).collect()(0)
    val b = back.agg(sum($"l_orderkey"), sum($"l_linenumber"),
      graft.Num.dsum2($"l_quantity"), max($"ship")).collect()(0)
    assert(a === b)
  }

  test("avro roundtrip with non-nullable fields and nulls in nullable ones") {
    import graft.sources.AvroFiles
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_avro_nn").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = true)))
    val in = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "a", 1.5), Row(2L, null, null), Row(3L, "c", -2.0))),
      schema)
    AvroFiles.write(in, dir)
    val back = AvroFiles.read(spark, dir, schema)
    assert(back.collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq === Seq(
        (1L, Some("a"), Some(1.5)), (2L, None, None), (3L, Some("c"), Some(-2.0))))
  }

  test("JDBC connector roundtrip + pushdown + partitioned parallel read (embedded Derby)") {
    import graft.sources.JdbcSource
    import org.apache.spark.sql.SaveMode
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val df = (1L to 100L).map(i => (i, s"name_$i", i * 2.5)).toDF("id", "nm", "score")
    JdbcSource.write(df, url, "t_round", SaveMode.Overwrite)

    val back = JdbcSource.read(spark, url, "t_round")
    assert(back.count() === 100)

    // Predicate pushdown reaches the remote SQL: the JDBC scan advertises
    // the filter instead of applying it post-fetch.
    val filtered = back.filter($"id" > 90L).select("id", "score")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(id,90"),
      plan.take(1200))
    assert(filtered.count() === 10)

    // Partitioned read: 4 concurrent range queries, same content.
    val par = JdbcSource.readPartitioned(spark, url, "t_round", "id", 1L, 100L, 4)
    assert(par.rdd.getNumPartitions === 4)
    assert(par.agg(sum($"id")).collect()(0).getLong(0) === 5050L)
  }
}
