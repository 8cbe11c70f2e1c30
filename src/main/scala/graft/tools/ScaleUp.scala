package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Dev-only: deterministically scale an existing SF directory by K× for
  * SCALING MEASUREMENTS (8-core vs 32-core ratios). sf0.1's per-query
  * times are 5–80 ms — fixed per-stage overhead, non-diagnostic for
  * parallelism (r15 verdict item 7) — so this synthesizes a K×-bigger
  * corpus by unioning K key-shifted copies of every table:
  *
  *  - fact/entity keys are offset per copy by a round power of ten above
  *    the max key of their key DOMAIN (every column holding custkeys,
  *    orderkeys, …), so copies never collide, every foreign key shifts
  *    with the key it references, and join fan-outs
  *    (customer↔orders↔lineitem, events.user_id, embeddings.vec_id)
  *    replicate per copy → every query's work scales ~linearly;
  *  - nation/region (shared dimensions) are NOT replicated — foreign
  *    keys into them stay valid;
  *  - documents' text is token-salted per copy (every token gets a
  *    "_cK" suffix), keeping copy vocabularies disjoint: near-dup pairs
  *    replicate per copy instead of exploding quadratically across
  *    copies (exact duplicates would pair with every other copy);
  *  - embeddings' first dimension moves by K·1e-4 per copy, so no copy
  *    holds an exact duplicate of another copy's vector: LSH/IVF bucket
  *    sizes stay ∝ corpus instead of ×K identical collisions, and every
  *    within-copy neighbourhood is undisturbed;
  *  - copy 0 is byte-identical to the source, so probe filters
  *    (vec_id < 10, centroid seeds < 16) keep their original rows and
  *    the probe side stays fixed-size while the corpus grows.
  *
  * NOT an oracle scale: this data is for perf/scaling evidence only.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {

  /** Key domains: the (table, column) pairs that hold keys of one
    * domain. Every column of a domain shifts by the same per-copy offset,
    * so a foreign key in copy i still finds its parent in copy i.
    */
  val keyDomains: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("events" -> "user_id"),
    Seq("events" -> "event_id"),
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"))

  /** Per-copy offset of every key column, by table: the next power of
    * ten above the max over every column of the column's domain, so
    * shifted ids stay readable and mod-k blocking predicates
    * (doc_id % 5) keep their selectivity per copy.
    */
  def offsets(tables: String => DataFrame,
              domains: Seq[Seq[(String, String)]]): Map[String, Map[String, Long]] =
    domains.flatMap { domain =>
      val mx = domain.map { case (t, c) =>
        tables(t).agg(max(col(c))).head().getAs[Number](0).longValue()
      }.max
      var p = 10L
      while (p <= mx) p *= 10
      domain.map { case (t, c) => (t, c, p) }
    }.groupBy(_._1).map { case (t, cs) => t -> cs.map(x => x._2 -> x._3).toMap }

  /** What copy i > 0 changes besides its keys, by table (see above). */
  val copyRules: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "documents" -> ((df, i) => df.withColumn("text",
      array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_c$i"))), " "))),
    "embeddings" -> { (df, i) =>
      val elem = df.schema("embedding").dataType.asInstanceOf[ArrayType].elementType
      df.withColumn("embedding", transform(col("embedding"),
        (x, j) => when(j === 0, (x + lit(i * 1e-4)).cast(elem)).otherwise(x)))
    })

  private val unchanged: (DataFrame, Int) => DataFrame = (df, _) => df

  /** `copies` key-shifted copies of `df` (copy 0 is `df` itself); copy
    * i > 0 also goes through `rule`.
    */
  def replicate(df: DataFrame, offs: Map[String, Long], copies: Int,
                rule: (DataFrame, Int) => DataFrame = unchanged): DataFrame =
    (0 until copies).map { i =>
      val withKeys = offs.foldLeft(df) { case (d, (k, off)) =>
        // cast back so the scaled table's schema is byte-identical
        d.withColumn(k, (col(k) + lit(off * i)).cast(df.schema(k).dataType))
      }
      if (i > 0) rule(withKeys, i) else withKeys
    }.reduce(_ unionByName _)

  /** Write the `copies`× corpus of `src` to `dst`, 4 parquet files per
    * table (nation/region once: shared dimensions, not replicated).
    */
  def build(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val load = (t: String) => Tables(spark, src, t)
    val offs = offsets(load, keyDomains)
    val plan = Seq("nation", "region").map(t => t -> load(t)) ++
      offs.toSeq.sortBy(_._1).map { case (t, o) =>
        t -> replicate(load(t), o, copies, copyRules.getOrElse(t, unchanged))
      }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    plan.foreach { case (name, df) =>
      df.coalesce(4).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] wrote $name")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")
    build(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }
}
