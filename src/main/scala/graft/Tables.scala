package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog layer: the driver-generated TPC-H-ish star schema plus the
  * LLM-data-pipeline tables (documents, embeddings, events).
  *
  * Mirrors the reference's table surface (ByConity `StorageCnchMergeTree`,
  * /root/reference/src/Storages/StorageCnchMergeTree.h:38) as plain
  * Parquet-backed Spark tables: scans get Catalyst predicate pushdown,
  * column pruning and row-group pruning for free — the Spark-native
  * equivalent of MergeTree partition/mark pruning
  * (/root/reference/src/Storages/MergeTree/MergeTreeDataSelectExecutor.cpp:175).
  *
  * Schemas resolve on the driver ([[parquetSchema]]): the reference keeps
  * a table's schema in the catalog (src/Catalog/MetastoreProxy.h), so no
  * query opens a data file to learn it; here the footer is still the
  * catalog, but reading it costs a file open, not a Spark job.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val pipeline: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ pipeline

  /** Read one table from an sf directory, normalizing every timestamp
    * column to the engine's canonical `TimestampType` regardless of the
    * physical parquet encoding the generator happened to use. Observed
    * drift across testdata regenerations:
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright;
    *     read as raw nanos and floor-divide to µs — the same truncation
    *     DuckDB applies — so both engines observe identical values.
    *   - timestamp[us] with no isAdjustedToUTC flag: Spark 4 infers
    *     TIMESTAMP_NTZ, on which strictly-typed calls (`unix_micros`,
    *     window lag over ts, ASOF inequalities) throw DATATYPE_MISMATCH.
    *     Cast NTZ → TimestampType; with the session timezone pinned to
    *     UTC (every Engine/Verify/Bench builder does) the wall-clock
    *     reinterpretation is value-identical to DuckDB's NTZ reading.
    *
    * The reference's DateTime is timezone-less by construction
    * (/root/reference/src/DataTypes/DataTypeDateTime.h:54) and immune to
    * this class of drift; this choke point is the Spark-native analogue —
    * every query path reads tables through here, so one cast repairs all.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/$name.parquet")
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.withColumns(
      ntz.map(f => f.name -> col(f.name).cast(TimestampType)).toMap)
  }

  /** The one way the engine turns a Parquet path into a DataFrame: the
    * read Spark would do, with the schema resolved by [[parquetSchema]]
    * instead of a schema-inference job.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, read on the driver.
    * Spark's inference (mergeSchema off) opens ONE footer — the first of
    * `_common_metadata`, `_metadata`, the first data file by path — but
    * does it in a one-task Spark job; a table reference paid that job on
    * every query. This opens the same footer from the same file index
    * (the `_spark_metadata` log of a streaming sink, else a directory
    * listing) and converts it with Spark's own converter under the
    * session's confs, so every call sees the current files exactly as
    * Spark would. Partition columns and nullability follow
    * `DataSource.resolveRelation`. With no file to read, Spark's own read
    * raises Spark's own error.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    val fromSink = FileStreamSink.hasMetadata(Seq(path), conf, sqlConf)
    val index =
      if (fromSink) new MetadataLogFileIndex(spark, new Path(path), Map.empty, None)
      else new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    footerFile match {
      // Nothing to infer from (a missing path, no data file): Spark's own
      // read raises Spark's own error (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA).
      case None => spark.read.parquet(path).schema
      case Some(f) =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
        val read = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(sqlConf))
        // A listed directory's data columns turn nullable; a sink log's
        // keep the footer's nullability.
        val data = if (fromSink) read else nullable(read).asInstanceOf[StructType]
        // Partition columns: an overlapping one keeps its data position
        // with the partition type, the rest append.
        val parts = index.partitionSchema
        def part(f: StructField) = parts.find(p => sqlConf.resolver(p.name, f.name))
        StructType(data.map(f => part(f).getOrElse(f)) ++
          parts.filterNot(p => data.exists(f => sqlConf.resolver(p.name, f.name))))
    }
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Canonical timestamp→µs conversion — the ONE strictly-typed call
    * site. `unix_micros` is typed to TIMESTAMP and throws
    * DATATYPE_MISMATCH on TIMESTAMP_NTZ; the inner cast is a no-op on
    * already-canonical columns, reinterprets NTZ under the pinned UTC
    * session tz (value-identical to the oracle's reading), and gives
    * future encoding drift a single repair point instead of ~40
    * scattered `unix_micros(col("ts"))` calls — the round-7 failure
    * mode. Every operator needing event-time µs must go through here.
    */
  def tsUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Register every table of an sf directory as a temp view so that
    * `spark.sql` queries (the engine's SQL front door) resolve them.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
