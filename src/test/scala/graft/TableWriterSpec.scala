package graft

import graft.sources.TableWriter
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TableWriterSpec extends SparkSpec {

  test("partitioned write enables partition pruning at scan") {
    val dir = tempDir("graft_part").toString
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    TableWriter.writePartitioned(orders, dir, Seq("o_year"), Seq("o_orderkey"))

    val scan = spark.read.parquet(dir).filter(col("o_year") === 1996)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan.take(1500))
    assert(scan.count() > 0)
    // pruning actually skipped the other year directories
    val all = spark.read.parquet(dir).count()
    assert(scan.count() < all)
  }

  test("bucketed table joins without a shuffle on the bucket key") {
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    TableWriter.writeBucketed(orders, spark, "orders_bkt", "o_custkey", 4, Seq("o_custkey"))
    val t = spark.table("orders_bkt")
    val agg = t.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    // bucket layout satisfies the aggregation's distribution — no Exchange
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"), plan.take(2000))
  }
}
