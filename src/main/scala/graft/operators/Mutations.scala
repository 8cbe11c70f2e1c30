package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch mutations — the reference's ALTER TABLE ... UPDATE/DELETE
  * (/root/reference/src/Interpreters/MutationsInterpreter.cpp) are
  * asynchronous whole-part rewrites; the Spark-native equivalent is a
  * read → transform → overwrite cycle (same semantics, same full-scan
  * cost model). Update = conditional column replacement; delete =
  * anti-filter.
  */
object Mutations {

  /** UPDATE t SET col = value WHERE cond. SQL UPDATE snapshot semantics:
    * every SET expression and the WHERE predicate read the pre-update row,
    * so all assignments are built against the input in a single select
    * rather than layered withColumn calls.
    */
  def update(df: DataFrame, cond: Column, assignments: Map[String, Column]): DataFrame = {
    val unknown = assignments.keySet -- df.columns.toSet
    require(unknown.isEmpty,
      s"UPDATE assigns to columns not in the table: ${unknown.mkString(", ")}")
    df.select(df.columns.map { name =>
      assignments.get(name) match {
        case Some(value) => when(cond, value).otherwise(col(name)).as(name)
        case None        => col(name)
      }
    }: _*)
  }

  /** DELETE FROM t WHERE cond. */
  def delete(df: DataFrame, cond: Column): DataFrame =
    df.filter(!coalesce(cond, lit(false)))

  /** TTL enforcement (reference TTL DELETE —
    * /root/reference/src/Storages/TTLDescription.cpp, applied part-by-part
    * by the merge machinery): drop rows whose event time is older than
    * `ttl` relative to `now`. Combined with [[rewrite]] this is the
    * periodic TTL sweep; `now` is explicit so runs are reproducible.
    * Expiry is INCLUSIVE at the boundary (ttl_time <= now ⟺ ts <= now -
    * ttl), matching the reference's `isTTLExpired` comparison.
    */
  def applyTtl(df: DataFrame, tsCol: Column, ttl: String, now: Column): DataFrame =
    delete(df, tsCol <= now - expr(s"INTERVAL $ttl"))

  /** Apply a mutation pipeline and replace the table directory with a
    * rename-aside swap (write new data to a sibling temp path, move the
    * old directory aside, move the new one into place, then drop the old
    * copy) — the part-rewrite commit. A crash mid-swap leaves either the
    * old table at `path` or a recoverable `path + ".old"`; rename/delete
    * results are checked so a failed step surfaces instead of silently
    * losing the table.
    */
  def rewrite(spark: SparkSession, path: String, mutate: DataFrame => DataFrame): Unit = {
    mutate(Tables.readParquet(spark, path)).write
      .mode(SaveMode.Overwrite).parquet(path + ".mutating")
    swapInto(spark, path + ".mutating", path)
  }

  /** OPTIMIZE-style small-file compaction (the reference's OPTIMIZE TABLE
    * / background merge, src/Interpreters/InterpreterOptimizeQuery.cpp):
    * rewrite the table into ⌈bytes / targetFileBytes⌉ files with the same
    * rename-aside commit as mutations. Data is byte-identical, file count
    * drops to the target — the operational fix for streaming sinks and
    * fine-grained partition writes that accumulate thousands of small
    * files (a real 100 TB failure mode: scan task count explodes and
    * footer reads dominate). Returns the new file count.
    */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Size from *.parquet data files only — _SUCCESS/CRC sidecars would
    // inflate the target count. Still an approximation of the rewritten
    // size (compression ratios shift when small files merge), which is
    // fine: the goal is the file-count bound, not exact file sizes.
    val bytes = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Tables.readParquet(spark, path)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(path + ".compacting")
    swapInto(spark, path + ".compacting", path)
    fs.listStatus(new Path(path)).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Rename-aside commit: move `dst` aside (if present), move `tmpPath`
    * into place, drop the old copy. Shared by [[rewrite]] and the
    * MaterializedView batch refresh.
    */
  def swapInto(spark: SparkSession, tmpPath: String, dstPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(tmpPath)
    val old = new Path(dstPath + ".old")
    val dst = new Path(dstPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"mutation swap: cannot clear stale $old")
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, old))
      throw new java.io.IOException(s"mutation swap: cannot move $dst aside to $old")
    if (!fs.rename(tmp, dst)) {
      // Roll the old data back into place before failing; report a failed
      // rollback rather than claiming the old state was restored.
      if (hadOld && !fs.rename(old, dst))
        throw new java.io.IOException(
          s"mutation swap: cannot move $tmp into place at $dst AND rollback of $old failed — " +
            s"table data is at $old")
      throw new java.io.IOException(s"mutation swap: cannot move $tmp into place at $dst")
    }
    if (hadOld && !fs.delete(old, true))
      throw new java.io.IOException(s"mutation swap: committed but cannot remove $old")
  }
}
