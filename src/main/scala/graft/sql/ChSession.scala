package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Stateful ClickHouse-dialect executor: the DDL/DML front door the
  * reference's stateless test corpus drives (CREATE TABLE / INSERT /
  * DROP / TRUNCATE / CREATE VIEW / DESCRIBE — reference parser entry
  * ParserQuery, /root/reference/src/Parsers/ParserQuery.cpp), mapped to
  * Spark-native session state:
  *
  *  - CREATE TABLE → an empty DataFrame with the declared schema
  *    (ClickHouse types mapped via [[ChTypes]]) registered as a temp
  *    view. ENGINE / PARTITION BY / SETTINGS clauses are accepted and
  *    ignored — a temp view has no physical layout; the MergeTree
  *    ORDER BY key IS honored as the per-insert sort so that unordered
  *    SELECTs observe the same row order a sorted part would yield
  *    (reference MergeTreeDataWriter sorts each block by the sorting
  *    key before writing the part).
  *  - INSERT VALUES → each tuple becomes a one-row SELECT (array/tuple
  *    literals transpiled by [[ChTranspiler]]), unioned, cast to the
  *    declared schema positionally, key-sorted, and appended to the
  *    table's DataFrame — the Spark analogue of "one insert = one
  *    sorted part".
  *  - INSERT ... SELECT → the transpiled query's result appended the
  *    same way.
  *  - DEFAULT expressions fill omitted columns at insert time, in
  *    declaration order so a default may reference earlier columns
  *    (same evaluation order as the reference's
  *    AddingDefaultsTransform).
  *
  * All state is session-local temp views: no catalog, no files — the
  * corpus runner creates one ChSession per test file and closes it,
  * which is exactly the isolation `clickhouse-test` gets from its
  * per-test database.
  */
final class ChSession(spark: SparkSession) {
  import ChSession._
  import ChLex.{maskStrings, matchParen, normalizeSpace, splitTop, splitTuples, topLevelEq}

  private case class TableState(
      schema: StructType,
      declared: Seq[(String, String)], // col name -> CH type text (DESCRIBE)
      defaults: Map[String, String],   // col name -> raw CH default expr
      orderKey: Seq[String],
      hidden: Set[String],             // MATERIALIZED/ALIAS column names
      var data: DataFrame,
      // col name -> (default kind, raw default text, comment) for
      // DESCRIBE (reference layout: name, type, _, default_type,
      // default_expression, comment, codec, ttl)
      meta: Map[String, (String, String, String)] = Map.empty,
      // CnchMergeTree UNIQUE KEY upsert state (reference
      // partition_level_unique_keys default TRUE,
      // MergeTreeSettings.h:444; dedup_key_mode default REPLACE,
      // Settings.h:1276; version column = ENGINE arg)
      uniqueKey: Seq[String] = Nil,
      partitionExprText: Option[String] = None,
      partitionLevel: Boolean = true,
      versionCol: Option[String] = None,
      // dedup_impl_version='dedup_in_write_suffix': staged blocks only
      // flush while the table's dedup worker runs
      dedupInWriteSuffix: Boolean = false,
      // SETTINGS enable_unique_partial_update = 1 on the table
      partialEnabled: Boolean = false,
      // partial_update_enable_merge_map (default true): Map columns
      // merge key-wise instead of being replaced
      mergeMap: Boolean = true,
      // columns declared REPLACE_IF_NOT_NULL
      rinnCols: Set[String] = Set.empty,
      // columns ADDed after rows existed, with no explicit DEFAULT: the
      // reference materializes them lazily — a part missing the column
      // reads the CURRENT type's default, so ADD UInt32 then MODIFY
      // String shows '' (not '0') on pre-ALTER rows. Modeled as NULL
      // markers in `data` coalesced to the current default at view time.
      lazyDefault: Set[String] = Set.empty,
      // MySQL `ON UPDATE expr` columns: refreshed by UPDATE statements
      // that do not assign them explicitly (60108_mysql_on_update)
      onUpdate: Map[String, String] = Map.empty,
      // created under SET dialect_type='MYSQL' (SHOW CREATE/DESCRIBE
      // print the MySQL-normalized layout for such tables)
      mysqlTable: Boolean = false,
      // raw clause text after the column list (ENGINE/ORDER/PARTITION/
      // SAMPLE/SETTINGS …) — SHOW CREATE TABLE reprints from it, along
      // with the database the CREATE qualified (default otherwise)
      createAfter: String = "",
      rawDb: String = "default",
      // CONSTRAINT name CHECK expr — validated per inserted block
      // (reference CheckConstraintsTransform, error 469)
      constraints: Map[String, String] = Map.empty,
      // CREATE TEMPORARY TABLE (SHOW CREATE prints ENGINE = Memory,
      // SHOW TEMPORARY TABLES lists it — 00564)
      temporary: Boolean = false)

  private val tables = mutable.LinkedHashMap[String, TableState]()
  private val views = mutable.LinkedHashSet[String]()
  /** Session database set by USE (SHOW CREATE prints it). */
  private var currentDb = "default"

  // the reference's one-row system table `system.one` (dummy UInt8 = 0,
  // reference StorageSystemOne.cpp) — stripDbRefs rewrites references
  // to the bare name
  if (!spark.catalog.tableExists("one"))
    spark.sql("SELECT CAST(0 AS SMALLINT) AS dummy")
      .createOrReplaceTempView("one")
  // MySQL's one-row `dual` pseudo-table (the reference's MySQL dialect
  // accepts FROM dual; 60000_mysql_dual)
  if (!spark.catalog.tableExists("dual"))
    spark.sql("SELECT CAST(0 AS SMALLINT) AS dummy")
      .createOrReplaceTempView("dual")
  // system.numbers is the reference's unbounded number stream; corpus
  // uses always cap it with LIMIT — a bounded view is observationally
  // identical up to 2M rows (00723 remerge_sort streams that many; the
  // only corpus files wanting more — 00110/00284 at 10M — need unsigned
  // Int64 sort order / group-by overflow modes and diff out anyway,
  // while a 10M bound made unrelated full-view scans heavy enough to
  // exhaust the sweep JVM).
  // single partition: corpus queries cap it with LIMIT n, and a
  // multi-partition range would make LocalLimit compute n rows in EVERY
  // partition — the tail partitions hold the large numbers, whose
  // projected values can be enormous (00532 builds ~12M-element nested
  // arrays per row near 65535). One partition also pins stream order;
  // Range is lazy so a small LIMIT still stops early.
  if (!spark.catalog.tableExists("numbers"))
    spark.range(0, 2000000, 1, 1).toDF("number")
      .createOrReplaceTempView("numbers")
  // the multi-threaded spelling reads the same stream; registered as
  // its own view because the generic db-qualifier strip turns
  // `system.numbers_mt` into the bare name before the system-table
  // rewrite can see it
  if (!spark.catalog.tableExists("numbers_mt"))
    spark.range(0, 2000000, 1, 1).toDF("number")
      .createOrReplaceTempView("numbers_mt")

  /** Session-level `SET dedup_key_mode = …` for unique-key inserts. */
  private var dedupKeyMode: String = "replace"
  private val dedupModeRe =
    """(?i)dedup_key_mode\s*=\s*'?(\w+)'?""".r
  /** `SET enable_staging_area_for_write = 1`: unique-table inserts
    * buffer invisibly until SYSTEM SYNC DEDUP WORKER flushes them
    * (reference staging-area write path).
    */
  private var stagingWrite = false
  private val stagingRe =
    """(?i)enable_staging_area_for_write\s*=\s*(\d)""".r
  /** `SET enable_unique_partial_update`: INSERTs into partial-update
    * tables merge per-column instead of replacing whole rows.
    */
  private var partialUpdate = false
  private val partialRe =
    """(?i)enable_unique_partial_update\s*=\s*(\d)""".r
  /** `SET insert_if_not_exists = 1`: an UPDATE on a missing unique key
    * INSERTS the row (SET columns + WHERE key equalities, defaults for
    * the rest).
    */
  private var insertIfNotExists = false
  private val iineRe =
    """(?i)insert_if_not_exists\s*=\s*(\d)""".r
  private val stagingData = mutable.LinkedHashMap[String, DataFrame]()
  private val stoppedWorkers = mutable.Set[String]()
  /** Per-INSERT commit stamp: a staged block keeps the commit order of
    * its WRITE, so at flush it loses to rows the table received later
    * (the reference dedups parts by commit time).
    */
  private var commitSeq = 1L
  // EXPLAIN SYNTAX: uniq-family injective strip toggle (01390)
  private var uniqInjectiveOpt = false
  // EXPLAIN SYNTAX: arithmetic-out-of-aggregates toggle (01271)
  private var arithInAggOpt = true
  // EXPLAIN SYNTAX: duplicate-DISTINCT elimination toggle (01455)
  private var dupDistinctOpt = false
  // EXPLAIN SYNTAX: LIKE-to-equality rewrite toggle (48011)
  private var likeRwOpt = false
  // EXPLAIN SYNTAX: if-chain to multiIf toggle (01388)
  private var ifChainOpt = false
  // EXPLAIN SYNTAX: group-by function-key elimination (01300)
  private var gbFnKeysOpt = true
  // EXPLAIN SYNTAX: aggregators-of-group-keys elimination (01321)
  private var aggOfKeysOpt = true
  // EXPLAIN SYNTAX: transform-strings-to-enum (01324)
  private var strToEnumOpt = false
  private val maxMemRe =
    """(?i)max_memory_usage\s*=\s*'?(\d+)([KMGT]?)'?""".r
  private val dialectRe =
    """(?i)dialect_type\s*=\s*'?(\w+)'?""".r

  private def applySet(s: String): Unit = {
    // max_memory_usage: honored for statically-sized synthetic scans
    // (numbers/numbers_mt) — the reference raises MEMORY_LIMIT_EXCEEDED
    // (error 241) when a query's working set exceeds the cap, and the
    // corpus relies on that contract for its huge-scan guard tests
    maxMemRe.findFirstMatchIn(s).foreach { m =>
      val mult = m.group(2).toUpperCase match {
        case "K" => 1L << 10; case "M" => 1L << 20
        case "G" => 1L << 30; case "T" => 1L << 40; case _ => 1L
      }
      val bytes = m.group(1).toLong * mult
      // reference src/Core/Settings.h: zero means UNLIMITED, not a
      // zero-byte cap
      if (bytes == 0L) spark.conf.unset("graft.ch.max_memory_bytes")
      else spark.conf.set("graft.ch.max_memory_bytes", bytes.toString)
    }
    // enable_positional_arguments: CH's GROUP BY/ORDER BY ordinals
    // (02006) — map onto Spark's ordinal flags (close() resets them)
    """(?i)\benable_positional_arguments\s*=\s*(\d+)""".r
      .findFirstMatchIn(s).foreach { m =>
        val on = (m.group(1) != "0").toString
        spark.conf.set("spark.sql.groupByOrdinal", on)
        spark.conf.set("spark.sql.orderByOrdinal", on)
      }
    // join_use_nulls: 1 = standard SQL NULL padding for outer joins,
    // 0 (the CH default) = type-default padding (ChJoinDefaults reads
    // this per query — 00549 flips it mid-file)
    """(?i)\bjoin_use_nulls\s*=\s*(\d+)""".r.findFirstMatchIn(s).foreach {
      m => spark.conf.set("graft.ch.join_use_nulls", m.group(1))
    }
    // dialect_type flips argument conventions of a few functions
    // (LOCATE: MySQL (substr, str) vs CH (str, substr)) — builders read
    // it from the session conf at analysis time
    dialectRe.findFirstMatchIn(s).foreach { m =>
      spark.conf.set("graft.ch.dialect", m.group(1).toUpperCase)
      // CH reads "x" as an IDENTIFIER; MySQL reads it as a string —
      // flip Spark's parser accordingly (restored at close)
      spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers",
        (m.group(1).toUpperCase != "MYSQL").toString)
    }
    // session_timezone / timezone: switches the session's display AND
    // parse zone (reference Settings session_timezone; 02737-02739).
    // An unknown zone is BAD_ARGUMENTS (error 36).
    """(?i)\b(?:session_)?timezone\s*=\s*'([^']*)'""".r
      .findFirstMatchIn(s).foreach { m =>
        val z = m.group(1)
        if (z.isEmpty) // '' = back to the server default
          tzAtOpen.foreach(spark.conf.set("spark.sql.session.timeZone", _))
        else {
          try java.time.ZoneId.of(z) catch {
            case _: Exception => throw new IllegalArgumentException(
              s"Invalid time zone '$z' (BAD_ARGUMENTS, error 36 analog)")
          }
          spark.conf.set("spark.sql.session.timeZone", z)
        }
      }
    """(?i)(intersect|except)_default_mode\s*=\s*'?(\w+)'?""".r
      .findAllMatchIn(s).foreach { m =>
        try spark.conf.set(s"graft.ch.${m.group(1).toLowerCase}Mode",
          m.group(2).toUpperCase)
        catch { case _: Throwable => () }
      }
    """(?i)optimize_if_transform_strings_to_enum\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => strToEnumOpt = m.group(1) == "1")
    """(?i)optimize_aggregators_of_group_by_keys\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => aggOfKeysOpt = m.group(1) == "1")
    """(?i)optimize_group_by_function_keys\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => gbFnKeysOpt = m.group(1) == "1")
    """(?i)optimize_if_chain_to_multiif\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => ifChainOpt = m.group(1) == "1")
    """(?i)rewrite_like_function\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => likeRwOpt = m.group(1) == "1")
    """(?i)optimize_duplicate_order_by_and_distinct\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => dupDistinctOpt = m.group(1) == "1")
    """(?i)optimize_injective_functions_inside_uniq\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => uniqInjectiveOpt = m.group(1) == "1")
    """(?i)optimize_arithmetic_operations_in_aggregate_functions\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach { m =>
        arithInAggOpt = m.group(1) == "1"
        try spark.conf.set(ChCoercions.AggArithFlag,
          arithInAggOpt.toString)
        catch { case _: Throwable => () }
      }
    dedupModeRe.findFirstMatchIn(s).foreach(m =>
      dedupKeyMode = m.group(1).toLowerCase)
    stagingRe.findFirstMatchIn(s).foreach(m =>
      stagingWrite = m.group(1) == "1")
    partialRe.findFirstMatchIn(s).foreach(m =>
      partialUpdate = m.group(1) == "1")
    iineRe.findFirstMatchIn(s).foreach(m =>
      insertIfNotExists = m.group(1) == "1")
    // statistics collection switches (45004 create-stats family); the
    // sampling settings are identity here — collection is always exact
    """(?i)statistics_collect_histogram\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => statsCollectHistogram = m.group(1) == "1")
    // max_block_size drives the block-model scalars (blockSize /
    // blockNumber / rowNumberInBlock — 00344)
    """(?i)\bmax_block_size\s*=\s*(\d+)""".r
      .findFirstMatchIn(s).foreach { m =>
        try spark.conf.set("graft.ch.max_block_size", m.group(1))
        catch { case _: Throwable => () }
      }
    // enable_positional_arguments: CH reads GROUP/ORDER BY integers as
    // ordinals only under this setting (02006) — flip Spark's ordinal
    // resolution to match (restored by reset())
    """(?i)enable_positional_arguments\s*=\s*(\d)""".r
      .findFirstMatchIn(s).foreach { m =>
        val on = (m.group(1) == "1").toString
        try {
          spark.conf.set("spark.sql.groupByOrdinal", on)
          spark.conf.set("spark.sql.orderByOrdinal", on)
        } catch { case _: Throwable => () }
      }
    """(?i)statistics_histogram_bucket_size\s*=\s*(\d+)""".r
      .findFirstMatchIn(s)
      .foreach(m => statsHistogramBuckets = m.group(1).toInt)
    """(?i)enable_memory_catalog\s*=\s*(\d)""".r
      .findFirstMatchIn(s)
      .foreach(m => statsMemoryCatalog = m.group(1) == "1")
  }

  /** INSERT-triggered materialized view: `base` inserts flow through
    * `selectSql` into `target` (CREATE MATERIALIZED VIEW … TO target).
    */
  private case class MvDef(name: String, base: String, target: String,
      selectSql: String)
  private val mvs = mutable.ArrayBuffer[MvDef]()

  /** Drop every view this session registered. */
  // session timezone as found at construction — SET session_timezone
  // must not leak into the next corpus file
  private val tzAtOpen: Option[String] =
    try Some(spark.conf.get("spark.sql.session.timeZone"))
    catch { case _: Throwable => None }

  def close(): Unit = {
    (tables.keys ++ views).foreach { n =>
      try spark.catalog.dropTempView(n) catch { case _: Throwable => () }
    }
    tzAtOpen.foreach { z =>
      try spark.conf.set("spark.sql.session.timeZone", z)
      catch { case _: Throwable => () }
    }
    tables.clear(); views.clear(); stagingData.clear()
    tableStats.clear(); memoryStats.clear()
    statsCollectHistogram = true; statsHistogramBuckets = 250
    statsMemoryCatalog = false
    // dictionaries registered by this session's DDL must not leak into
    // the next corpus file (the registry is process-global)
    sessionDicts.foreach(Dictionaries.drop)
    sessionDicts.clear()
    // per-test settings — must not leak into the next corpus file
    try spark.conf.unset("graft.ch.max_memory_bytes")
    catch { case _: Throwable => () }
    try spark.conf.unset("graft.ch.max_block_size")
    catch { case _: Throwable => () }
    try spark.conf.unset("graft.ch.dialect")
    catch { case _: Throwable => () }
    try spark.conf.unset("graft.ch.intersectMode")
    catch { case _: Throwable => () }
    try spark.conf.unset("graft.ch.exceptMode")
    catch { case _: Throwable => () }
    try spark.conf.unset("graft.ch.join_use_nulls")
    catch { case _: Throwable => () }
    try spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    catch { case _: Throwable => () }
    try {
      spark.conf.set("spark.sql.groupByOrdinal", "false")
      spark.conf.set("spark.sql.orderByOrdinal", "false")
    } catch { case _: Throwable => () }
  }

  /** Execute one statement if it is DDL/DML this layer owns.
    * Done = handled, no output; Output = handled with rows (DESCRIBE);
    * NotHandled = a query — the caller runs it through spark.sql.
    */
  /** `SELECT * FROM t …`: MATERIALIZED/ALIAS columns are hidden from
    * star expansion (reference ColumnDefaultKind) — expand the bare
    * star for the single-table shape so they stay invisible.
    */
  def expandStar(sql0: String): String = {
    val sql = rewriteSample(rewriteGetMapKeys(sql0))
    val re = """(?is)^(\s*SELECT\s+)\*(\s+FROM\s+([`\w.]+))\b""".r
    re.findFirstMatchIn(sql) match {
      case Some(m) =>
        val t = resolveTableKey(cleanName(m.group(3)))
        tables.get(t) match {
          case Some(st) if st.hidden.nonEmpty =>
            val cols = st.schema.fieldNames
              .filterNot(st.hidden.contains).map(c => s"`$c`")
              .mkString(", ")
            re.replaceFirstIn(sql, java.util.regex.Matcher
              .quoteReplacement(m.group(1) + cols + m.group(2)))
          case _ => sql
        }
      case None => sql
    }
  }

  private def mysqlDialectNow: Boolean =
    try spark.conf.get("graft.ch.dialect", "CLICKHOUSE") == "MYSQL"
    catch { case _: Throwable => false }

  /** getMapKeys(currentDatabase(), 'table', 'mapCol'[, partitionRegex
    * [, timeout]]) — the reference's server-side map-key catalog scan
    * (ByteDance map-column implicit keys; 00970/40035): distinct keys
    * of the map column as strings, partitions filtered by the regex
    * against the partition expression's text. Lowered to a scalar
    * subquery over the session table.
    */
  private val getMapKeysRe =
    ("""(?is)\bgetMapKeys\s*\(\s*currentDatabase\s*\((?:[^)]*)\)\s*,\s*""" +
      """'([^']+)'\s*,\s*'([^']+)'\s*""" +
      """(?:,\s*'((?:[^'\\]|\\.)*)'\s*)?(?:,\s*\d+\s*)?\)""").r

  /** `FROM t SAMPLE f [OFFSET o]` (reference MergeTreeDataSelectExecutor
    * sampling): deterministic by the table's SAMPLE BY key — keep rows
    * whose key falls in [floor(o·D), floor((o+f)·D)) where D is the
    * key domain (the declared unsigned type's range, or 2^32/2^64 for
    * the hash wrappers). SAMPLE 1 reads everything. Lowered to a
    * filtered subquery aliased back to the table name.
    */
  private val sampleFromRe =
    ("""(?is)\bFROM\s+(`[\w.]+`|[\w.]+)\s+SAMPLE\s+""" +
      """([0-9.eE+-]+(?:\s*/\s*[0-9.eE+-]+)?)""" +
      """(\s+OFFSET\s+([0-9.eE+-]+(?:\s*/\s*[0-9.eE+-]+)?))?""").r

  private def rewriteSample(sql: String): String =
    sampleFromRe.replaceAllIn(sql, m => {
      def frac(s0: String): Double = {
        val s = s0.replaceAll("\\s+", "")
        if (s.contains('/')) {
          val p = s.split('/'); p(0).toDouble / p(1).toDouble
        } else s.toDouble
      }
      val f = frac(m.group(2))
      val off = Option(m.group(4)).map(frac).getOrElse(0.0)
      val tRaw = m.group(1)
      val t = resolveTableKey(cleanName(tRaw))
      val sampleBy = tables.get(t).map(_.createAfter).flatMap { after =>
        """(?is)\bSAMPLE\s+BY\s+(\([^)]*\)|\w+\s*\([^)]*\)|[\w`.]+)""".r
          .findFirstMatchIn(after).map(_.group(1).trim)
      }
      val domain: Option[BigDecimal] = sampleBy.flatMap { se =>
        val bare = se.replaceAll("[`()]", "").trim
        val colType = tables.get(t)
          .flatMap(_.declared.find(_._1 == bare).map(_._2.trim))
        colType match {
          case Some("UInt8") => Some(BigDecimal(256))
          case Some("UInt16") => Some(BigDecimal(65536))
          case Some("UInt32") => Some(BigDecimal(2).pow(32))
          case Some("UInt64") => Some(BigDecimal(2).pow(64))
          case _ if se.toLowerCase.contains("hash32") =>
            Some(BigDecimal(2).pow(32))
          case _ if se.toLowerCase.contains("hash64") ||
              se.toLowerCase.contains("cityhash") =>
            Some(BigDecimal(2).pow(64))
          case _ => None
        }
      }
      (sampleBy, domain) match {
        case _ if f >= 1.0 =>
          java.util.regex.Matcher.quoteReplacement(s"FROM $tRaw")
        case (Some(se), Some(d)) =>
          val lo = (BigDecimal(off) * d).setScale(0, BigDecimal.RoundingMode.FLOOR)
          val hi = (BigDecimal(off + f) * d).setScale(0, BigDecimal.RoundingMode.FLOOR)
          val cond =
            (if (lo > 0) s"($se) >= ${lo.toBigInt} AND " else "") +
              s"($se) < ${hi.toBigInt}"
          java.util.regex.Matcher.quoteReplacement(
            s"FROM (SELECT * FROM `$t` WHERE $cond) `$t`")
        case _ =>
          java.util.regex.Matcher.quoteReplacement(s"FROM $tRaw")
      }
    })

  private def rewriteGetMapKeys(sql: String): String =
    getMapKeysRe.replaceAllIn(sql, m => {
      val t = resolveTableKey(cleanName(m.group(1)))
      val col = m.group(2)
      val pat = Option(m.group(3))
      val where = (pat, tables.get(t).flatMap(_.partitionExprText)) match {
        case (Some(p), Some(pe)) =>
          s" WHERE cast(($pe) as string) rlike '$p'"
        case (Some(_), None) => " WHERE false"
        case _ => ""
      }
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT sort_array(array_distinct(flatten(collect_list(" +
          s"transform(map_keys(`$col`), __gmk -> cast(__gmk as string))" +
          s")))) FROM `$t`$where)")
    })

  def execute(clean: String): Result = {
    val s = normalizeSpace(clean.trim)
    val up = s.toUpperCase
    // Staged blocks flush at explicit SYNC points and — for the default
    // txn-commit dedup impl — when a later DIRECT insert commits to the
    // same table (appendTo). A bare SELECT never flushes: the corpus
    // asserts staged rows are invisible until one of those events.
    if (up.startsWith("SET ")) { applySet(s); Done }
    else if (up.startsWith("SYSTEM ")) {
      // SYSTEM SYNC DEDUP WORKER / REPAIR TASK: the async dedup's
      // convergence point — flush the staging area and dedup the table.
      // START/STOP DEDUP WORKER toggles whether a write-suffix table's
      // staged blocks may flush at all. Other SYSTEM statements
      // (START/STOP MERGES…) steer background machinery a temp view
      // does not have.
      """(?is)SYSTEM\s+SYNC\s+(?:DEDUP\s+WORKER|REPAIR\s+TASK)\s+([`\w.]+)""".r
        .findFirstMatchIn(s)
        .foreach(m => syncDedup(cleanName(m.group(1))))
      """(?is)SYSTEM\s+DEDUP\s+([`\w.]+).*?\bFOR\s+REPAIR""".r
        .findFirstMatchIn(s)
        .foreach(m => syncDedup(cleanName(m.group(1))))
      """(?is)SYSTEM\s+(START|STOP)\s+DEDUP\s+WORKER\s+([`\w.]+)""".r
        .findFirstMatchIn(s).foreach { m =>
          val t = cleanName(m.group(2))
          if (m.group(1).equalsIgnoreCase("STOP")) stoppedWorkers += t
          else stoppedWorkers -= t
        }
      Done
    }
    else if (up.startsWith("USE ")) {
      currentDb = cleanName(
        s.trim.drop(3).trim.stripSuffix(";").trim)
      Done
    }
    else if (up.startsWith("OPTIMIZE ")) Done
    else if (up.startsWith("DROP TABLE") || up.startsWith("DROP VIEW") ||
             up.startsWith("DROP TEMPORARY TABLE"))
      { dropTable(s); Done }
    else if (up.startsWith("TRUNCATE")) { truncate(s); Done }
    else if (up.startsWith("RENAME TABLE")) { renameTable(s); Done }
    else if (createMvRe.pattern.matcher(s).matches()) {
      createMaterializedView(s); Done
    }
    else if (createViewRe.pattern.matcher(s).matches()) { createView(s); Done }
    else if (up.startsWith("CREATE TABLE") ||
             up.startsWith("CREATE TEMPORARY TABLE")) { createTable(s); Done }
    else if (up.startsWith("INSERT INTO") ||
             up.startsWith("INSERT IGNORE INTO")) { insert(s); Done }
    else if (up.startsWith("REPLACE INTO")) {
      // MySQL REPLACE = key-replacing insert; the reference only
      // implements it for UNIQUE KEY tables (error 48 otherwise)
      val tn = """(?is)REPLACE\s+INTO\s+(?:TABLE\s+)?([`\w.]+)""".r
        .findFirstMatchIn(s).map(mm => resolveTableKey(cleanName(mm.group(1))))
      val st = tn.flatMap(tables.get)
      if (st.isEmpty || st.get.uniqueKey.isEmpty)
        throw new UnsupportedOperationException(
          "REPLACE INTO requires a UNIQUE KEY table (error 48 analog)")
      insert(s.replaceFirst("(?is)^\\s*REPLACE\\s+INTO", "INSERT INTO"))
      Done
    }
    else if (up.startsWith("ALTER TABLE")) { alter(s); Done }
    else if (up.startsWith("UPDATE ")) { updateStmt(s); Done }
    else if (up.startsWith("DELETE FROM")) { deleteStmt(s); Done }
    else if (up.startsWith("REFRESH")) { refresh(s); Done }
    else if (up.startsWith("SHOW CREATE")) showCreate(s)
    else if (up.startsWith("SHOW TEMPORARY TABLES")) {
      val pat = """(?is)\bLIKE\s+'([^']*)'""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("%")
      val re = ("^" + java.util.regex.Pattern.quote(pat)
        .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r
      val rs = tables.toSeq.collect {
        case (n, st) if st.temporary && re.findFirstIn(n).isDefined =>
          Row(n)
      }.sortBy(_.getString(0))
      if (rs.isEmpty) Done else Output(rs)
    }
    else if (up.startsWith("CREATE DICTIONARY")) { createDictionary(s); Done }
    else if (up.startsWith("DROP DICTIONARY")) { dropDictionary(s); Done }
    else if (up.startsWith("CREATE STATS")) createStats(s)
    else if (up.startsWith("DROP STATS")) { dropStats(s); Done }
    else if (up.startsWith("SHOW COLUMN_STATS")) showStats(s, buckets = true)
    else if (up.startsWith("SHOW STATS")) showStats(s, buckets = false)
    else if (up.startsWith("CREATE DATABASE")) Done
    else if (up.startsWith("DROP DATABASE")) { dropDatabase(s); Done }
    else if (up.startsWith("EXPLAIN SYNTAX")) {
      // reference InterpreterExplainQuery SYNTAX mode: print the
      // (rewritten) AST as formatted SQL — see ChSyntaxFormat
      val q = s.substring("EXPLAIN SYNTAX".length).trim.stripSuffix(";")
      val cols: String => Option[Seq[String]] = { t =>
        val key = resolveTableKey(cleanName(t))
        tables.get(key).map(st =>
          st.schema.fieldNames.toSeq.filterNot(st.hidden))
      }
      Output(ChSyntaxFormat.format(q, cols, uniqInjectiveOpt, arithInAggOpt,
        // display default stays DISTINCT: the 02004 EXPLAIN SYNTAX golden
        // pins `INTERSECT DISTINCT` for a bare intersect even though
        // EXECUTION defaults to ALL (Settings.h) - ByConity's formatter
        // and executor genuinely disagree here
        spark.conf.get("graft.ch.intersectMode", "DISTINCT"),
        spark.conf.get("graft.ch.exceptMode", "DISTINCT"),
        dupDistinctOpt, likeRwOpt, ifChainOpt, gbFnKeysOpt, aggOfKeysOpt,
        strToEnumOpt).map(Row(_)))
    }
    else if (up.startsWith("EXPLAIN")) {
      // EXPLAIN [stats=0|verbose=1|…][PLAN] query (reference
      // ParserExplainQuery.cpp option list + ASTExplainQuery.h modes;
      // SYNTAX handled above, PIPELINE prints the same plan shape).
      val body = s.drop("EXPLAIN".length).trim.stripSuffix(";")
        .replaceFirst("(?is)^((?:(?:stats|verbose|actions|optimizer|" +
          "distributed|json|aggregate)\\s*=\\s*\\w+|PLAN|PIPELINE)[\\s,]*)+", "")
        .trim
      val hadOptions = body.length !=
        s.drop("EXPLAIN".length).trim.stripSuffix(";").trim.length
      if (!body.toUpperCase.startsWith("SELECT") &&
          !body.startsWith("(")) NotHandled
      else {
        val lookup: String => Option[ChPlanFormat.TableInfo] = { nm =>
          val key = resolveTableKey(cleanName(nm))
          tables.get(key).map { st =>
            ChPlanFormat.TableInfo(s"${st.rawDb}.$key",
              st.schema.fieldNames.toSeq.filterNot(st.hidden),
              st.orderKey, () => st.data.count())
          }
        }
        val _ = hadOptions
        ChPlanFormat.explain(stripDbRefs(body), lookup) match {
          case Some(lines) => Output(lines.map(Row(_)))
          case None =>
            // unknown shape: print SOMETHING plan-like rather than a
            // parse error — the golden diffs, but the file survives
            val df = spark.sql(ChTranspiler.transpile(stripDbRefs(body)))
            Output(df.queryExecution.optimizedPlan.toString
              .linesIterator.toSeq.map(Row(_)))
        }
      }
    }
    else if (up.startsWith("DESC")) describe(s)
    else if (up.startsWith("EXISTS ")) {
      // EXISTS [TEMPORARY] TABLE name → UInt8 1/0 (reference
      // InterpreterExistsQuery)
      """(?is)^\s*EXISTS\s+(?:TEMPORARY\s+)?(?:TABLE\s+)?([`\w.]+)\s*;?\s*$"""
        .r.findFirstMatchIn(s) match {
        case Some(m) =>
          val k = resolveTableKey(cleanName(m.group(1)))
          Output(Seq(Row(
            if (tables.contains(k) || views.contains(k)) "1" else "0")))
        case None => NotHandled
      }
    }
    else NotHandled
  }

  // ===== optimizer statistics: CREATE/SHOW/DROP STATS ===============
  // Reference: src/Statistics (FullCollectStep.cpp per-column SQL —
  // count(col), uniq(wrapped), kll(wrapped), toFloat64(min/max(wrapped)),
  // sum(byteSize) for String), ParseUtils.h wrapper kinds (String →
  // cityHash64, FixedString → cityHash64∘toString, Decimal/DateTime64 →
  // Float64, UUID → UInt128) and InterpreterShowStatsQuery.cpp /
  // InterpreterCreateStatsQuery.cpp output layouts. Stats are a
  // session-scope snapshot keyed by table; histograms are equi-height
  // over the distinct values (one bucket per value while ndv fits the
  // reference's bucket budget — exact for the corpus fixtures, the same
  // shape its KLL sketch converges to).

  private case class StatBucket(lo: Double, hi: Double, count: Long,
      ndv: Long, upClosed: Boolean)
  private case class ColStatEntry(typeName: String, count: Long,
      nulls: Long, ndv: Long, min: Double, max: Double, avgBytes: Double,
      hasHist: Boolean, buckets: Seq[StatBucket])
  private case class StatsEntry(var rowCount: Long,
      cols: mutable.LinkedHashMap[String, ColStatEntry])
  private val tableStats = mutable.LinkedHashMap[String, StatsEntry]()
  // `SET enable_memory_catalog = 1` routes stats DDL at a separate
  // in-memory catalog (45005_memory_stats observes the two stores
  // independently)
  private val memoryStats = mutable.LinkedHashMap[String, StatsEntry]()
  private var statsMemoryCatalog = false
  private def statsStore: mutable.LinkedHashMap[String, StatsEntry] =
    if (statsMemoryCatalog) memoryStats else tableStats
  private var statsCollectHistogram = true
  private var statsHistogramBuckets = 250 // histogram_bucket_size default

  private def statsDecay(t0: String): String = {
    val t = t0.trim
    if (t.startsWith("Nullable(") && t.endsWith(")"))
      statsDecay(t.drop(9).dropRight(1))
    else if (t.startsWith("LowCardinality(") && t.endsWith(")"))
      statsDecay(t.drop(15).dropRight(1))
    else t
  }

  private def statsCollectable(t: String): Boolean = {
    val head = statsDecay(t).takeWhile(_ != '(').trim
    head.startsWith("Int") || head.startsWith("UInt") ||
      head.startsWith("Float") || head.startsWith("Decimal") ||
      Set("String", "FixedString", "UUID", "Date", "Date32", "DateTime",
        "DateTime32", "DateTime64", "Bool", "Boolean",
        "Enum", "Enum8", "Enum16").contains(head)
  }

  /** Fixed byte width per decayed type (SymbolStatistics default avg —
    * sizeOfValueIfFixed in the reference). */
  private def statsWidth(t: String): Double = {
    val d = statsDecay(t)
    val head = d.takeWhile(_ != '(').trim
    head match {
      case "Int8" | "UInt8" | "Bool" | "Boolean" | "Enum8" => 1
      case "Int16" | "UInt16" | "Enum16" | "Date" | "Enum" => 2
      case "Int32" | "UInt32" | "Float32" | "Date32" | "DateTime" |
           "DateTime32" | "Decimal32" => 4
      case "Int64" | "UInt64" | "Float64" | "DateTime64" | "Decimal64" |
           "String" => 8
      case "Int128" | "UInt128" | "UUID" | "Decimal128" => 16
      case "Int256" | "UInt256" | "Decimal256" => 32
      case "FixedString" =>
        d.substring(d.indexOf('(') + 1, d.lastIndexOf(')')).trim.toInt
      case "Decimal" =>
        val p = splitTop(d.substring(d.indexOf('(') + 1,
          d.lastIndexOf(')'))).head.trim.toInt
        if (p <= 9) 4 else if (p <= 18) 8 else if (p <= 38) 16 else 32
      case _ => 8
    }
  }

  /** Display type: DataTypePtr::getName() prints DecimalNN(s) in the
    * canonical Decimal(p, s) spelling; wrappers are preserved. */
  private def statsTypeName(t0: String): String = {
    val t = t0.trim
    if (t.startsWith("Nullable(") && t.endsWith(")"))
      s"Nullable(${statsTypeName(t.drop(9).dropRight(1))})"
    else if (t.startsWith("LowCardinality(") && t.endsWith(")"))
      s"LowCardinality(${statsTypeName(t.drop(15).dropRight(1))})"
    else {
      val head = t.takeWhile(_ != '(').trim
      def scaleArg =
        t.substring(t.indexOf('(') + 1, t.lastIndexOf(')')).trim
      head match {
        case "Decimal32" => s"Decimal(9, $scaleArg)"
        case "Decimal64" => s"Decimal(18, $scaleArg)"
        case "Decimal128" => s"Decimal(38, $scaleArg)"
        case "Decimal256" => s"Decimal(76, $scaleArg)"
        case _ => t
      }
    }
  }

  /** boost::lexical_cast<String>(double): 17 significant digits,
    * trailing zeros stripped, C++ defaultfloat notation (scientific when
    * the decimal exponent is < -4 or >= 17), nan for NaN. */
  private def fmtStatDouble(d: Double): String = {
    if (d.isNaN) "nan"
    else if (d.isInfinity) { if (d > 0) "inf" else "-inf" }
    else if (d == 0.0) "0"
    else {
      val bd = new java.math.BigDecimal(d, new java.math.MathContext(17))
        .stripTrailingZeros()
      val exp = bd.precision() - bd.scale() - 1
      if (exp < -4 || exp >= 17) {
        val mant = bd.movePointLeft(exp).toPlainString
        val sign = if (exp < 0) "-" else "+"
        val ae = math.abs(exp)
        val es = if (ae < 10) "0" + ae else ae.toString
        s"${mant}e$sign$es"
      } else bd.toPlainString
    }
  }

  /** The wrapped Float64 value of one collected column value, per the
    * reference's WrapperKind for the column's CH type. */
  private def statsValueAsDouble(chType: String, v: Any): Double = {
    val head = statsDecay(chType).takeWhile(_ != '(').trim
    head match {
      case "String" | "FixedString" | "Enum" | "Enum8" | "Enum16" =>
        // cityHash64 as UInt64 → Float64 (exact decimal-string round)
        val h = graft.functions.HashOps.cityHash64(
          v.toString.getBytes("UTF-8"))
        new java.math.BigDecimal(java.lang.Long.toUnsignedString(h))
          .doubleValue()
      case "UUID" =>
        // reinterpret(uuid, 'UInt128') — byte-level: the UUID's two
        // UInt64 halves sit low-half-first in memory, so the SECOND
        // half of the text is the high 64 bits of the UInt128
        val hex = v.toString.replace("-", "")
        ((BigInt(hex.drop(16), 16) << 64) | BigInt(hex.take(16), 16))
          .toDouble
      case _ => v match {
        case null => Double.NaN
        case b: Boolean => if (b) 1d else 0d
        case d: java.math.BigDecimal => d.doubleValue()
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
        case d: java.time.LocalDate => d.toEpochDay.toDouble
        case ts: java.sql.Timestamp => ts.getTime / 1000.0
        case i: java.time.Instant => i.toEpochMilli / 1000.0
        case n: java.lang.Number => n.doubleValue()
        case s: String => s.toDoubleOption.getOrElse(Double.NaN)
        case other => other.toString.toDoubleOption.getOrElse(Double.NaN)
      }
    }
  }

  private def collectColumnStats(df: DataFrame, rowCount: Long,
      chType: String, value: Column, withHistogram: Boolean,
      bucketSize: Int): ColStatEntry = {
    val nullable = chType.contains("Nullable(")
    val head = statsDecay(chType).takeWhile(_ != '(').trim
    val grouped = df.select(value.as("__v")).where(col("__v").isNotNull)
      .groupBy("__v").count().collect().toSeq
    val nonnull = grouped.map(_.getLong(1)).sum
    val ndv = grouped.length.toLong
    val valsD = grouped
      .map(r => (statsValueAsDouble(chType, r.get(0)), r.getLong(1), r.get(0)))
      .sortBy(_._1)
    val (minV, maxV) =
      if (nonnull == 0) (Double.NaN, Double.NaN)
      else (valsD.head._1, valsD.last._1)
    // SymbolStatistics.avg_len is a UInt64 — the double average
    // truncates (45022_implicit_str_columns: 1313/102 prints 12)
    val avg: Double =
      if (nonnull == 0 || head != "String") statsWidth(chType)
      else {
        // byteSize(String) = 8-byte length prefix + bytes + terminator;
        // Nullable adds the null-mask byte (golden: 'str1' → 13 / 14)
        val nb = if (nullable) 1 else 0
        val total = valsD.map { case (_, c, raw) =>
          (9L + raw.toString.getBytes("UTF-8").length + nb) * c
        }.sum
        (total / nonnull).toDouble
      }
    val hasHist = withHistogram && bucketSize > 0 && nonnull > 0
    val buckets: Seq[StatBucket] =
      if (!hasHist) Nil
      else if (valsD.size <= bucketSize)
        valsD.map { case (d, c, _) => StatBucket(d, d, c, 1L, true) }
      else {
        // equi-height merge of the sorted distinct values; a merged
        // bucket's upper bound is the NEXT bucket's lower bound (open)
        // except the last, which closes on the true max
        // (BucketBoundsImpl: 45020 golden `[0, 5) / [5, 9]`)
        val per = math.ceil(valsD.size.toDouble / bucketSize).toInt
        val gs = valsD.grouped(per).toSeq
        gs.zipWithIndex.map { case (g, i) =>
          val last = i == gs.size - 1
          StatBucket(g.head._1,
            if (last) g.last._1 else gs(i + 1).head._1,
            g.map(_._2).sum, g.size.toLong, last)
        }
      }
    ColStatEntry(statsTypeName(chType), nonnull, rowCount - nonnull,
      math.min(ndv, nonnull), minV, maxV, avg, hasHist, buckets)
  }

  /** Tables in a stats target's scope: `*`/`all` = current database,
    * `db.*` = that database, else the named table. */
  private def statsScope(t0: String): Seq[String] = {
    val t = t0.trim.stripSuffix(";").trim
    if (t == "*" || t.equalsIgnoreCase("all"))
      tables.keys.filter(k => tables(k).rawDb == currentDb).toSeq
    else if (t.endsWith(".*")) {
      val db = t.dropRight(2).replace("`", "").trim
      tables.keys.filter(k => tables(k).rawDb == db).toSeq
    } else {
      val k = resolveTableKey(cleanName(t))
      if (tables.contains(k)) Seq(k) else Nil
    }
  }

  /** Implicit map-key column spelling `__mapcol__'key'` → (value
    * Column, CH value type). */
  private val implicitMapColRe = """^__(\w+?)__'(.*)'$""".r

  private def statsColumnsFor(st: TableState, explicit: Option[Seq[String]],
      existing: Option[StatsEntry]): Seq[(String, String, Column)] = {
    def declaredType(n: String): Option[String] =
      st.declared.find(_._1 == n).map(_._2)
    def resolve(cn: String): Option[(String, String, Column)] = cn match {
      case implicitMapColRe(mapCol, key)
          if declaredType(mapCol).exists(_.trim.startsWith("Map(")) =>
        val mt = declaredType(mapCol).get.trim
        val vt = splitTop(mt.substring(mt.indexOf('(') + 1,
          mt.lastIndexOf(')')))(1).trim
        Some((cn, s"Nullable($vt)", element_at(col(s"`$mapCol`"), lit(key))))
      case n =>
        declaredType(n).filter(statsCollectable)
          .map(ty => (n, ty, col(s"`$n`")))
    }
    explicit match {
      case Some(cs) => cs.flatMap(resolve)
      case None =>
        val declared = st.declared
          .filterNot { case (n, _) => st.hidden.contains(n) }
          .filter { case (_, ty) => statsCollectable(ty) }
          .map { case (n, ty) => resolve(n) }.flatten
        // re-collect implicit map-key stats the catalog already holds
        val implicits = existing.toSeq.flatMap(_.cols.keys)
          .filter(implicitMapColRe.pattern.matcher(_).matches())
          .flatMap(resolve)
        declared ++ implicits
    }
  }

  private val createStatsRe =
    """(?is)^\s*CREATE\s+STATS\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)\s*;?\s*$""".r

  private def createStats(s: String): Result = {
    val m = createStatsRe.findFirstMatchIn(s).getOrElse(return NotHandled)
    val ifNotExists = m.group(1) != null
    var target = m.group(2).trim
    // per-statement `SETTINGS k=v, …` overrides (45022_override_histogram)
    var withHist = statsCollectHistogram
    var bucketSize = statsHistogramBuckets
    val setRe = """(?is)\s+SETTINGS\s+(.+)$""".r
    setRe.findFirstMatchIn(target).foreach { sm =>
      val body = sm.group(1)
      """(?i)statistics_collect_histogram\s*=\s*(\d)""".r
        .findFirstMatchIn(body).foreach(x => withHist = x.group(1) == "1")
      """(?i)statistics_histogram_bucket_size\s*=\s*(\d+)""".r
        .findFirstMatchIn(body)
        .foreach(x => bucketSize = x.group(1).toInt)
      target = target.substring(0, sm.start).trim
    }
    // optional explicit column list: name(col, …)
    var explicit: Option[Seq[String]] = None
    val pi = target.indexOf('(')
    if (pi > 0 && target.endsWith(")")) {
      explicit = Some(splitTop(target.substring(pi + 1, target.length - 1))
        .map(_.trim.stripPrefix("`").stripSuffix("`")))
      target = target.take(pi).trim
    }
    val out = Seq.newBuilder[Row]
    statsScope(target).foreach { name =>
      val st = tables(name)
      if (!(ifNotExists && statsStore.contains(name))) {
        val cols = statsColumnsFor(st, explicit, statsStore.get(name))
        // unknown / non-collectable explicit columns are the
        // reference's BAD_ARGUMENTS (error 36 — CatalogAdaptor.cpp
        // "columns (…) is not collectable")
        explicit.foreach { cs =>
          if (cols.size != cs.size)
            throw new IllegalArgumentException(
              s"columns (${cs.mkString(", ")}) is not collectable " +
                "(error 36 analog)")
        }
        val rowCount = st.data.count()
        val entry = statsStore.getOrElseUpdate(name,
          StatsEntry(0, mutable.LinkedHashMap()))
        entry.rowCount = rowCount
        cols.foreach { case (cn, ty, c) =>
          entry.cols(cn) =
            collectColumnStats(st.data, rowCount, ty, c, withHist, bucketSize)
        }
        out += Row(name, cols.size.toString, rowCount.toString)
      }
    }
    val rows = out.result()
    if (rows.isEmpty) Done else Output(rows)
  }

  private val dropStatsRe =
    """(?is)^\s*DROP\s+STATS\s+(.+?)\s*;?\s*$""".r

  private def dropStats(s: String): Unit =
    dropStatsRe.findFirstMatchIn(s).foreach { m =>
      statsScope(m.group(1)).foreach(statsStore.remove)
    }

  /** Display order: the declared column order, with each Map column
    * expanded to its implicit `__col__'key'` entries at the map's
    * declared position (reference getAllCollectableColumns +
    * MapHelpers). */
  private def statsDisplayOrder(name: String,
      e: StatsEntry): Seq[(String, ColStatEntry)] = {
    tables.get(name) match {
      case Some(ts) =>
        val out = mutable.ArrayBuffer[(String, ColStatEntry)]()
        ts.declared.foreach { case (n, ty) =>
          if (e.cols.contains(n)) out += n -> e.cols(n)
          else if (ty.trim.startsWith("Map(")) {
            val prefix = s"__${n}__'"
            e.cols.foreach { case (k, v) =>
              if (k.startsWith(prefix)) out += k -> v
            }
          }
        }
        val seen = out.map(_._1).toSet
        e.cols.foreach { case (k, v) =>
          if (!seen.contains(k)) out += k -> v
        }
        out.toSeq
      case None => e.cols.toSeq
    }
  }

  private val showStatsRe =
    """(?is)^\s*SHOW\s+(?:COLUMN_)?STATS\s+(.+?)\s*;?\s*$""".r

  private def showStats(s: String, buckets: Boolean): Result = {
    val m = showStatsRe.findFirstMatchIn(s).getOrElse(return NotHandled)
    val rows = Seq.newBuilder[Row]
    statsScope(m.group(1)).foreach { name =>
      statsStore.get(name).foreach { e =>
        if (!buckets) {
          rows += Row(s"$name.*", "", e.rowCount.toString,
            "", "", "", "", "", "")
          statsDisplayOrder(name, e).foreach { case (cn, cs) =>
            rows += Row(s"$name.$cn", cs.typeName, cs.count.toString,
              cs.nulls.toString, cs.ndv.toString, fmtStatDouble(cs.min),
              fmtStatDouble(cs.max), fmtStatDouble(cs.avgBytes),
              if (cs.hasHist) "1" else "0")
          }
        } else statsDisplayOrder(name, e).foreach { case (cn, cs) =>
          var cumC = 0L; var cumN = 0L; var id = 0
          cs.buckets.foreach { b =>
            cumC += b.count; cumN += b.ndv
            rows += Row(s"$name.$cn", id.toString,
              s"[${fmtStatDouble(b.lo)}, ${fmtStatDouble(b.hi)}" +
                (if (b.upClosed) "]" else ")"),
              b.count.toString, b.ndv.toString,
              cumC.toString, cumN.toString)
            id += 1
          }
        }
      }
    }
    val r = rows.result()
    if (r.isEmpty) Done else Output(r)
  }

  // ===== CREATE/DROP DICTIONARY (reference src/Dictionaries — flat/
  // hashed/cache layouts over a CLICKHOUSE(TABLE '…') source; the
  // in-RAM registry is graft.sql.Dictionaries, shared with the library
  // API). Columns: `name Type [DEFAULT lit] [HIERARCHICAL|INJECTIVE]`;
  // only simple UInt64-compatible PRIMARY KEYs register (complex keys
  // fail loudly, like the unsupported layouts).
  private val sessionDicts = mutable.Set[String]()

  private def createDictionary(s: String): Unit = {
    val m = """(?is)^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?([`\w.]+)\s*"""
      .r.findFirstMatchIn(s).getOrElse(
        throw new IllegalArgumentException(s"cannot parse CREATE DICTIONARY"))
    val fullName = m.group(1).replace("`", "")
    val bare = cleanName(fullName)
    val rest = s.substring(m.end).trim
    require(rest.startsWith("("), "CREATE DICTIONARY: missing column list")
    val (colsTxt, after) = matchParen(rest)
    val kwRe = """(?i)\b(DEFAULT|HIERARCHICAL|INJECTIVE|EXPRESSION|IS_OBJECT_ID)\b""".r
    case class DictCol(name: String, chType: String,
        default: Option[String], hierarchical: Boolean)
    val cols = splitTop(colsTxt).map(_.trim).filter(_.nonEmpty).map { defText =>
      val sp = defText.indexWhere(_.isWhitespace)
      require(sp > 0, s"CREATE DICTIONARY: cannot parse column '$defText'")
      val nm = defText.take(sp).stripPrefix("`").stripSuffix("`")
      val restCol = defText.drop(sp).trim
      val (tyText, modText) = kwRe.findFirstMatchIn(restCol) match {
        case Some(km) => (restCol.substring(0, km.start).trim,
          restCol.substring(km.start))
        case None => (restCol, "")
      }
      val dflt = """(?is)\bDEFAULT\s+('(?:[^'\\]|\\.)*'|[-\w.]+)""".r
        .findFirstMatchIn(modText).map(_.group(1))
      DictCol(nm, tyText, dflt,
        """(?i)\bHIERARCHICAL\b""".r.findFirstIn(modText).isDefined)
    }
    val pkM = """(?is)\bPRIMARY\s+KEY\s+([`\w]+(?:\s*,\s*[`\w]+)*)""".r
      .findFirstMatchIn(after).getOrElse(
        throw new IllegalArgumentException("CREATE DICTIONARY: no PRIMARY KEY"))
    val pks = splitTop(pkM.group(1)).map(
      _.trim.stripPrefix("`").stripSuffix("`"))
    val keyCol = pks.head
    val srcTable = """(?is)\bTABLE\s+'([^']+)'""".r.findFirstMatchIn(after)
      .map(_.group(1)).getOrElse(
        throw new IllegalArgumentException("CREATE DICTIONARY: no source TABLE"))
    val st = tables.getOrElse(resolveTableKey(cleanName(srcTable)),
      throw new IllegalArgumentException(
        s"CREATE DICTIONARY: unknown source table $srcTable"))
    // dimension snapshot: the declared columns, cast to declared types
    val dim = st.data.select(cols.map { c =>
      val (dt, _) = ChTypes.parse(c.chType)
      col(s"`${c.name}`").cast(dt).as(c.name)
    }: _*)
    def parseDefault(text: String, chType: String): Any = {
      val t = text.trim
      if (t.startsWith("'"))
        t.stripPrefix("'").stripSuffix("'").replace("\\'", "'")
      else if (t.contains('.')) t.toDouble
      else t.toLongOption.getOrElse(t)
    }
    val defaults = cols.filter(_.default.isDefined)
      .map(c => c.name -> parseDefault(c.default.get, c.chType)).toMap
    val nullables = cols
      .filter(c => c.chType.contains("Nullable(")).map(_.name).toSet
    val parentAttr = cols.find(_.hierarchical).map(_.name)
    Seq(fullName, bare).distinct.foreach { n =>
      if (pks.size == 1)
        Dictionaries.register(n, dim, keyCol, parentAttr,
          defaults = defaults, nullableAttrs = Some(nullables))
      else {
        // composite key: canonical Spark-side key string (the lookup
        // expression concat_ws's the tuple fields the same way)
        val dimC = dim.withColumn("__ckey",
          concat_ws(Dictionaries.KeySep,
            pks.map(k => col(s"`$k`").cast("string")): _*))
        Dictionaries.registerComplex(n, dimC, pks,
          defaults = defaults, nullableAttrs = Some(nullables))
      }
      sessionDicts += n
    }
    // a dictionary is also queryable as a table (reference
    // StorageDictionary): expose the snapshot as a temp view
    dim.createOrReplaceTempView(bare)
  }

  private def dropDictionary(s: String): Unit =
    """(?is)^\s*DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?([`\w.]+)""".r
      .findFirstMatchIn(s).foreach { m =>
        val fullName = m.group(1).replace("`", "")
        Seq(fullName, cleanName(fullName)).distinct.foreach { n =>
          Dictionaries.drop(n); sessionDicts -= n
        }
        try spark.catalog.dropTempView(cleanName(fullName))
        catch { case _: Throwable => () }
      }

  private def dropDatabase(s: String): Unit = {
    val m = """(?is)^\s*DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?([`\w.]+)"""
      .r.findFirstMatchIn(s).getOrElse(return)
    val db = m.group(1).replace("`", "").trim
    val members = tables.keys.filter(k => tables(k).rawDb == db).toSeq
    members.foreach { k =>
      try spark.catalog.dropTempView(k) catch { case _: Throwable => () }
      tables.remove(k)
      tableStats.remove(k)
      memoryStats.remove(k)
    }
  }

  private val showCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+(?:TEMPORARY\s+)?(?:TABLE\s+)?([`\w.]+)\s*;?\s*""".r

  /** SHOW CREATE TABLE: reprint the stored definition in the
    * reference's normalized layout (InterpreterShowCreateQuery via
    * formatAST — backticked columns, one per line, ENGINE without empty
    * parens, PARTITION/ORDER/UNIQUE/SAMPLE clauses, then the implicit
    * storage SETTINGS). Tables with explicit SETTINGS or constraint
    * definitions are out of this printer's scope and fall through as
    * NotHandled.
    */
  private def showCreate(s: String): Result = {
    val m = showCreateRe.findFirstMatchIn(s).getOrElse(return NotHandled)
    val name = resolveTableKey(cleanName(m.group(1)))
    val st = tables.getOrElse(name, return NotHandled)
    if (st.temporary) {
      // reference InterpreterShowCreateQuery on a temporary table:
      // ENGINE = Memory, no storage clauses (00564)
      val cols = st.declared
        .map { case (n, t) => s"    `$n` $t" }.mkString(",\n")
      return Output(Seq(Row(
        s"CREATE TEMPORARY TABLE $name\n(\n$cols\n)\nENGINE = Memory")))
    }
    if (st.mysqlTable) return showCreateMySql(name, st)
    if ("""(?i)\bSETTINGS\b""".r.findFirstIn(st.createAfter).isDefined)
      return NotHandled
    // this printer only reproduces plain CnchMergeTree definitions —
    // other engines, TTL and PRIMARY KEY clauses would print WRONG
    // definitions rather than falling through (ADVICE r11)
    if ("""(?i)\b(TTL|PRIMARY\s+KEY)\b""".r
        .findFirstIn(st.createAfter).isDefined)
      return NotHandled
    if ("""(?i)\bENGINE\s*=\s*'?(?!CnchMergeTree\b)\w""".r
        .findFirstIn(st.createAfter).isDefined)
      return NotHandled
    val cols = st.declared.map { case (n, t) =>
      val (kind, dflt, comment) = st.meta.getOrElse(n, ("", "", ""))
      val kindText =
        if (kind.nonEmpty && dflt.nonEmpty) s" $kind $dflt"
        else if (kind.nonEmpty) s" $kind"
        else ""
      val commentText =
        if (comment.nonEmpty) s" COMMENT '$comment'" else ""
      s"    `$n` $t$kindText$commentText"
    }.mkString(",\n")
    val after = st.createAfter
    def clause(kw: String, re: scala.util.matching.Regex): Option[String] =
      re.findFirstMatchIn(after).map(mm => s"$kw ${mm.group(1).trim}")
    val sampleRe =
      """(?is)\bSAMPLE\s+BY\s+(\([^)]*\)|[^;]*?)\s*(?:PARTITION\s+BY|ORDER\s+BY|PRIMARY\s+KEY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r
    val orderRawRe =
      """(?is)\bORDER\s+BY\s+(\([^)]*\)|tuple\(\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r
    val partRe =
      """(?is)\bPARTITION\s+BY\s+(\([^)]*\)|[^;]*?)\s*(?:ORDER\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r
    val ukRe =
      """(?is)\bUNIQUE\s+KEY\s+(\([^)]*\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|ORDER\s+BY|CLUSTER\s+BY|$)""".r
    val clauses = Seq(
      clause("PARTITION BY", partRe),
      Some("ORDER BY " + orderRawRe.findFirstMatchIn(after)
        .map(_.group(1).trim).getOrElse("tuple()")),
      clause("UNIQUE KEY", ukRe),
      clause("SAMPLE BY", sampleRe)).flatten
    val text = s"CREATE TABLE ${st.rawDb}.$name\n(\n$cols\n)\n" +
      "ENGINE = CnchMergeTree\n" + clauses.mkString("\n") + "\n" +
      "SETTINGS storage_policy = 'cnch_default_hdfs', " +
      "index_granularity = 8192"
    Output(Seq(Row(text)))
  }

  /** SHOW CREATE for tables created under dialect_type='MYSQL': the
    * reference prints (table_name, normalized definition) with NULL /
    * NOT NULL per column, and a table created WITHOUT an explicit
    * ENGINE gets the MySQL default presentation — UNIQUE KEY tuple()
    * plus partition_level_unique_keys = 0 in SETTINGS
    * (60000_mysql_datatype et al; out-of-scope clauses fall through).
    */
  /** MySQL normalizes bare literal defaults to quoted strings
    * (`DEFAULT 1.2` prints as DEFAULT '1.2'); expressions stay. */
  private def mysqlDefaultText(d: String): String =
    if (d.nonEmpty && d.matches("-?[\\d.]+")) s"'$d'" else d

  private def showCreateMySql(name: String, st: TableState): Result = {
    val after = st.createAfter
    if ("""(?i)\b(TTL|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|CLUSTER\s+BY)\b"""
        .r.findFirstIn(after).isDefined)
      return NotHandled
    val engineExplicit =
      """(?i)\bENGINE\s*=""".r.findFirstIn(after).isDefined
    if ("""(?i)\bENGINE\s*=\s*'?(?!CnchMergeTree\b)\w""".r
        .findFirstIn(after).isDefined)
      return NotHandled
    val cols = st.declared.map { case (n, t) =>
      val (kind, dflt, comment) = st.meta.getOrElse(n, ("", "", ""))
      val nullable = !st.schema(n).metadata.contains("graft.ch.nonnull")
      val nullText = if (nullable) " NULL" else " NOT NULL"
      val kindText =
        if (kind.nonEmpty && dflt.nonEmpty)
          s" $kind ${mysqlDefaultText(dflt)}"
        else if (kind.nonEmpty) s" $kind"
        else ""
      val commentText =
        if (comment.nonEmpty) s" COMMENT '$comment'" else ""
      s"    `$n` $t$nullText$kindText$commentText"
    }.mkString(",\n")
    val orderRawRe =
      """(?is)\bORDER\s+BY\s+(\([^)]*\)|tuple\(\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r
    val partRe =
      """(?is)\bPARTITION\s+BY\s+(\([^)]*\)|[^;]*?)\s*(?:ORDER\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r
    val ukRe =
      """(?is)\bUNIQUE\s+KEY\s+(\([^)]*\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|ORDER\s+BY|CLUSTER\s+BY|$)""".r
    val orderText = "ORDER BY " + orderRawRe.findFirstMatchIn(after)
      .map(_.group(1).trim).getOrElse("tuple()")
    val partText = partRe.findFirstMatchIn(after)
      .map(mm => s"PARTITION BY ${mm.group(1).trim}")
    val declaredUk = ukRe.findFirstMatchIn(after).map(_.group(1).trim)
    // no explicit ENGINE → MySQL default = unique-key CnchMergeTree
    val ukText =
      declaredUk.map(u => s"UNIQUE KEY $u")
        .orElse(if (engineExplicit) None else Some("UNIQUE KEY tuple()"))
    val settings =
      (if (ukText.isDefined) Seq("partition_level_unique_keys = 0")
       else Nil) ++
        Seq("storage_policy = 'cnch_default_hdfs'",
          "allow_nullable_key = 1",
          "storage_dialect_type = 'MYSQL'",
          "index_granularity = 8192")
    val qName =
      if (name.matches("[A-Za-z_]\\w*")) name else s"`$name`"
    val clauses = Seq(partText, Some(orderText), ukText).flatten
    val text = s"CREATE TABLE ${st.rawDb}.$qName (\n$cols\n)\n" +
      "ENGINE = CnchMergeTree\n" + clauses.mkString("\n") + "\n" +
      "SETTINGS " + settings.mkString(", ")
    Output(Seq(Row(name, text)))
  }

  /** REFRESH MATERIALIZED VIEW name: recompute the target from the FULL
    * base (the reference's partition-based refresh, collapsed to a full
    * rebuild — equivalent for the corpus's single-partition tables).
    */
  private def refresh(s: String): Unit = {
    val m = """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([`\w.]+).*""".r
      .findFirstMatchIn(s).getOrElse(
        throw new IllegalArgumentException(s"cannot parse REFRESH: $s"))
    val name = cleanName(m.group(1))
    mvs.find(_.name == name).foreach { mv =>
      tables.get(mv.target).foreach { t =>
        t.data = t.data.limit(0)
      }
      val res = spark.sql(
        ChTranspiler.transpile(ChSession.stripDbRefs(mv.selectSql)))
      appendTo(mv.target, res, res.columns.toSeq)
    }
  }

  private def dropTable(s: String): Unit = s match {
    case dropRe(name) =>
      val t = resolveTableKey(cleanName(name))
      stagingData.remove(t)
      mvs.filterInPlace(_.name != t)
      if (tables.remove(t).isDefined || views.remove(t))
        spark.catalog.dropTempView(t)
    case _ => throw new IllegalArgumentException(s"cannot parse DROP: $s")
  }

  /** CREATE MATERIALIZED VIEW mv TO target AS SELECT … FROM base —
    * registered as an insert trigger (reference
    * StorageMaterializedView.cpp: the inner query runs over each
    * inserted block and writes to the TO table).
    */
  private def createMaterializedView(s: String): Unit = s match {
    case createMvRe(name, target, sel) =>
      val baseM = mvBaseRe.findFirstMatchIn(sel).getOrElse(
        throw new IllegalArgumentException(
          s"cannot find the MV base table: ${sel.take(60)}"))
      mvs += MvDef(cleanName(name), cleanName(baseM.group(1)),
        cleanName(target), sel)
    case _ =>
      throw new IllegalArgumentException(s"unsupported MATERIALIZED VIEW: $s")
  }

  /** RENAME TABLE a TO b [, c TO d …]. */
  private def renameTable(s: String): Unit = {
    splitTop("""(?i)^\s*RENAME\s+TABLE\s+""".r.replaceFirstIn(s.trim, ""))
      .foreach { pair =>
        val m = """(?is)\s*([`\w.]+)\s+TO\s+([`\w.]+)\s*""".r
          .findFirstMatchIn(pair).getOrElse(throw new IllegalArgumentException(
            s"cannot parse RENAME TABLE: $pair"))
        val a = cleanName(m.group(1)); val b = cleanName(m.group(2))
        tables.remove(a).foreach { st =>
          spark.catalog.dropTempView(a)
          tables(b) = st
          stagingData.remove(a).foreach(stagingData(b) = _)
          registerView(b)
        }
        mvs.mapInPlace(mv =>
          if (mv.name == a) mv.copy(name = b)
          else if (mv.base == a) mv.copy(base = b)
          else if (mv.target == a) mv.copy(target = b) else mv)
      }
  }

  private def truncate(s: String): Unit = s match {
    case truncateRe(name) =>
      val t = resolveTableKey(cleanName(name))
      tables.get(t).foreach { st =>
        st.data = st.data.limit(0)
        st.data.createOrReplaceTempView(t)
      }
    case _ => throw new IllegalArgumentException(s"cannot parse TRUNCATE: $s")
  }

  private def createView(s: String): Unit = s match {
    case createViewRe(name, query) =>
      val v = cleanName(name)
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$v` AS " +
        ChTranspiler.transpile(stripDbRefs(query)))
      views += v
    case _ => throw new IllegalArgumentException(s"cannot parse CREATE VIEW: $s")
  }

  private def createTable(s: String): Unit = {
    val m = createTableRe.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"cannot parse CREATE TABLE: $s"))
    val name = cleanName(m.group(1))
    val rest = m.group(2).trim
    if (tables.contains(name) &&
        s.toUpperCase.contains("IF NOT EXISTS")) return
    if (rest.startsWith("(")) {
      val (colText, after) = matchParen(rest)
      val allDefs = splitTop(colText).map(_.trim).filter(_.nonEmpty)
      // CONSTRAINT name CHECK expr entries are table-level, not columns
      val constraintDefRe =
        """(?is)^CONSTRAINT\s+(`[^`]+`|\w+)\s+CHECK\s+(.+)$""".r
      val tableConstraints = allDefs.collect {
        case constraintDefRe(cn, ex) => cleanName(cn) -> ex.trim
      }.toMap
      val cols = allDefs
        .filterNot(c => skipDefRe.pattern.matcher(c).find())
      val parsed0 = cols.flatMap(expandColDef)
      if (parsed0.isEmpty)
        throw new IllegalArgumentException(s"no columns parsed: $colText")
      // type-inference pass: a bare `name DEFAULT expr` column takes the
      // expression's type, evaluated against the columns declared before
      // it (so `sum MATERIALIZED arraySum(arr)` is numeric, not String)
      val parsed = parsed0.foldLeft(Vector.empty[ColDef]) { (acc, cd) =>
        acc :+ (if (!cd.inferType) cd
        else {
          try {
            val probe = spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(acc.map(_.field)))
            val dt = probe.select(chCol(cd.default.get)).schema.head.dataType
            // unsigned propagation: an expression over only UInt
            // columns keeps the UInt spelling (reference type
            // inference; 01493 golden prints `value2 UInt64 ALIAS ...`)
            val refd = "[A-Za-z_]\\w*".r.findAllIn(cd.default.get)
              .toSeq.distinct.flatMap(n => acc.find(_.field.name == n))
            val chT0 = sparkToCh(dt)
            val chT = if (refd.nonEmpty && chT0.startsWith("Int") &&
                refd.forall(_.chType.startsWith("UInt"))) "U" + chT0
              else chT0
            cd.copy(field = cd.field.copy(dataType = dt),
              chType = chT)
          } catch { case _: Throwable => cd }
        })
      }
      val schema = StructType(parsed.map(_.field))
      // only orderable key columns (a Map sorting key would throw)
      // ORDER BY names resolve case-insensitively against the declared
      // columns (MySQL DDL spells EVENT_type for event_type)
      val orderKey = parseOrderKey(after)
        .flatMap(k => schema.fieldNames.find(_.equalsIgnoreCase(k)))
        .filter(k => !schema(k).dataType.isInstanceOf[MapType])
      val uk = parseUniqueKey(after).filter(schema.fieldNames.contains)
      val st = TableState(schema,
        parsed.map(c => c.field.name -> c.chType),
        parsed.flatMap(c => c.default.map(c.field.name -> _)).toMap,
        orderKey,
        parsed.filter(_.hidden).map(_.field.name).toSet,
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema),
        parsed.filter(c => c.kind.nonEmpty || c.comment.nonEmpty)
          .map(c => c.field.name ->
            ((c.kind, if (c.kind.nonEmpty) c.default.getOrElse("") else "",
              c.comment))).toMap,
        uniqueKey = uk,
        partitionExprText = parsePartitionExpr(after),
        partitionLevel = !"""(?i)partition_level_unique_keys\s*=\s*0""".r
          .findFirstIn(after).isDefined,
        dedupInWriteSuffix =
          after.toLowerCase.contains("dedup_in_write_suffix"),
        partialEnabled = """(?i)enable_unique_partial_update\s*=\s*1""".r
          .findFirstIn(after).isDefined,
        mergeMap = !"""(?i)partial_update_enable_merge_map\s*=\s*(0|false)""".r
          .findFirstIn(after).isDefined,
        rinnCols = parsed.filter(_.rinn).map(_.field.name).toSet,
        onUpdate = parsed
          .flatMap(c => c.onUpdate.map(c.field.name -> _)).toMap,
        versionCol = """(?i)ENGINE\s*=\s*\w*MergeTree\s*\(\s*([^()]*(?:\([^()]*\))?[^()]*)\)""".r
          .findFirstMatchIn(after).map(_.group(1).trim).filter(_.nonEmpty)
          .filter { v =>
            // a version must be a plain column or the partition
            // expression itself ("partition as version")
            schema.fieldNames.contains(v) ||
              parsePartitionExpr(after).exists(
                _.replaceAll("\\s+", "") == v.replaceAll("\\s+", ""))
          },
        createAfter = after,
        mysqlTable = mysqlDialectNow,
        rawDb = {
          val raw = m.group(1).replace("`", "")
          if (raw.contains('.')) raw.substring(0, raw.lastIndexOf('.'))
          else currentDb
        },
        constraints = tableConstraints,
        temporary =
          """(?is)^\s*CREATE\s+TEMPORARY\b""".r.findFirstIn(s).isDefined)
      tables(name) = st
      st.data.createOrReplaceTempView(name)
    } else {
      // CREATE TABLE t [ENGINE=…] AS SELECT …  → table WITH the data;
      // CREATE TABLE t AS other [ENGINE=…]     → empty structure clone.
      val asSel = ctasRe.findFirstMatchIn(rest)
      val asClone = cloneRe.findFirstMatchIn(rest)
      if (asSel.isDefined) {
        val df = spark.sql(ChTranspiler.transpile(stripDbRefs(asSel.get.group(1))))
        val st = TableState(df.schema,
          df.schema.fields.map(f => f.name -> sparkToCh(f.dataType)).toSeq,
          Map.empty, Nil, Set.empty, df)
        tables(name) = st
        df.createOrReplaceTempView(name)
      } else if (asClone.isDefined) {
        val src = tables.getOrElse(cleanName(asClone.get.group(1)),
          throw new IllegalArgumentException(
            s"clone of unknown table ${asClone.get.group(1)}"))
        val st = src.copy(data = src.data.limit(0))
        tables(name) = st
        st.data.createOrReplaceTempView(name)
      } else throw new IllegalArgumentException(s"cannot parse CREATE TABLE: $s")
    }
  }

  /** Exact-case table key, else the case-insensitive match — MySQL
    * treats table names case-insensitively (60102/60103) and Spark's
    * temp-view catalog already does, so the session map must agree.
    */
  private def resolveTableKey(n: String): String =
    if (tables.contains(n)) n
    else tables.keys.find(_.equalsIgnoreCase(n)).getOrElse(n)

  private def insert(s: String): Unit = {
    val m = insertRe.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"cannot parse INSERT: $s"))
    // MySQL-compat `INSERT IGNORE INTO` = dedup_key_mode ignore
    val ignoreSpelling = m.group(1) != null
    val name = resolveTableKey(cleanName(m.group(2)))
    var rest = m.group(3).trim
    val st = tables.getOrElse(name,
      throw new IllegalArgumentException(s"INSERT into unknown table $name"))
    // optional explicit column list
    val givenCols: Seq[String] =
      if (rest.startsWith("(")) {
        val (inner, after) = matchParen(rest)
        rest = after.trim
        // backticks only — a dotted name here is a NESTED column
        // (`n.a`), not a db qualifier; `*` expands to the visible columns
        splitTop(inner).map(_.trim.stripPrefix("`").stripSuffix("`"))
          .flatMap {
            case "*" => st.schema.fieldNames.toSeq.filterNot(st.hidden)
            case c => Seq(c)
          }
      } else st.schema.fieldNames.toSeq.filterNot(st.hidden)
    // `INSERT INTO t [SETTINGS k=v,…] VALUES` / `… FORMAT Values
    // [SETTINGS k=v,…] (…)`: normalize to a VALUES body and capture a
    // per-insert dedup_key_mode override
    var modeOverride: Option[String] =
      if (ignoreSpelling) Some("ignore") else None
    var stagingOverride: Option[Boolean] = None
    def grabSettings(text: String): Unit = {
      dedupModeRe.findFirstMatchIn(text).foreach(mm =>
        modeOverride = Some(mm.group(1).toLowerCase))
      stagingRe.findFirstMatchIn(text).foreach(mm =>
        stagingOverride = Some(mm.group(1) == "1"))
    }
    val fmtValues = """(?is)^FORMAT\s+VALUES\s*""".r
    if (fmtValues.findFirstIn(rest).isDefined) {
      rest = fmtValues.replaceFirstIn(rest, "").trim
      if (rest.toUpperCase.startsWith("SETTINGS")) {
        val cut = rest.indexOf('(')
        val settingsText = if (cut < 0) rest else rest.substring(0, cut)
        grabSettings(settingsText)
        rest = if (cut < 0) "" else rest.substring(cut)
      }
      rest = "VALUES " + rest
    } else if (rest.toUpperCase.startsWith("SETTINGS")) {
      val vIdx = """(?i)\bVALUES\b""".r.findFirstMatchIn(rest)
        .map(_.start).getOrElse(-1)
      if (vIdx > 0) {
        grabSettings(rest.substring(0, vIdx))
        rest = rest.substring(vIdx)
      }
    }
    val up = rest.toUpperCase
    val inserted: DataFrame =
      if (up.startsWith("VALUES")) {
        val tuples = splitTuples(rest.substring("VALUES".length))
        if (tuples.isEmpty) return
        // DateTime-typed columns read per the reference's rules ('123…'
        // = unix seconds) BEFORE the union so mixed literal types
        // ('2000-01-02…' next to 1111111111) coerce to TIMESTAMP, not
        // to the union's numeric pick (00567 golden)
        val tsCol: Map[Int, String] = givenCols.zipWithIndex.flatMap {
          case (n, i) => st.schema.find(_.name == n)
            .filter(_.dataType == TimestampType)
            .map { f =>
              val tz = if (f.metadata.contains("graft.ch.tz"))
                f.metadata.getString("graft.ch.tz") else ""
              i -> tz
            }
        }.toMap
        // Decimal-typed columns read their literal TEXT exactly
        // (chInsertDecimal / readDecimalText) — the generic literal
        // path types fractional literals as Float64, which folds
        // 0.99…(38 nines) to 1.0 before the alignment cast (00700)
        val decCol: Map[Int, DecimalType] = givenCols.zipWithIndex.flatMap {
          case (n, i) => st.schema.find(_.name == n)
            .collect { case f if f.dataType.isInstanceOf[DecimalType] =>
              i -> f.dataType.asInstanceOf[DecimalType] }
        }.toMap
        val plainNumRe = "^[-+]?[0-9][0-9.eE+-]*$|^[-+]?\\.[0-9][0-9.eE+-]*$"
        def wrapTs(t: String): String =
          if (tsCol.isEmpty && decCol.isEmpty) t
          else {
            val items = splitTop(t)
            if (items.size != givenCols.size) t
            else items.zipWithIndex.map { case (it, i) =>
              tsCol.get(i) match {
                case Some("") => s"chReadDateTime($it)"
                case Some(tz) => s"chReadDateTime($it, '$tz')"
                case None => decCol.get(i) match {
                  case Some(d) if it.trim.matches(plainNumRe) =>
                    s"chInsertDecimal('${it.trim}', ${d.precision}, ${d.scale})"
                  case Some(d) if it.trim.matches("^'[^']*'$") =>
                    s"chInsertDecimal(${it.trim}, ${d.precision}, ${d.scale})"
                  case _ => it
                }
              }
            }.mkString(", ")
          }
        // chunked UNION ALL: one SELECT per row keeps literal transpile
        // (arrays, tuples, negative dates) on the proven path
        val dfs = tuples.grouped(200).map { group =>
          spark.sql(group.map(t =>
              ChTranspiler.transpile("SELECT " + wrapTs(t), widenInts = true))
            .mkString(" UNION ALL "))
        }.toSeq
        dfs.reduce(_ unionAll _)
      } else if (up.startsWith("SELECT") || up.startsWith("WITH") ||
                 up.startsWith("(")) {
        // `INSERT … SELECT … WITH TOTALS` inserts only the group rows —
        // the totals stream is dropped by the insert (reference
        // 00209_insert_select_extremes golden: 4 rows, not 6)
        val sel = """(?i)\bWITH\s+TOTALS\b""".r.replaceAllIn(rest, " ")
        spark.sql(ChTranspiler.transpile(stripDbRefs(sel)))
      } else throw new IllegalArgumentException(
        s"unsupported INSERT form: ${rest.take(40)}")
    appendTo(name, inserted, givenCols, modeOverride, stagingOverride)
  }

  /** Insert-alignment cast with the reference's DateTime read
    * semantics: a 9-10 digit value is a unix timestamp
    * (ReadHelpers.h readDateTimeText numeric fallback —
    * 00567_parse_datetime_as_unix_timestamp), anything else parses as
    * datetime text.
    */
  private def chAlignCast(c: Column, dt: DataType,
      src: Option[DataType] = None): Column = dt match {
    case TimestampType =>
      when(c.cast("string").rlike("^\\d{9,10}$"),
        c.cast("string").cast("long").cast("timestamp"))
        .otherwise(c.cast("timestamp"))
    // integral -> integral WRAPS like the reference's insert conversion
    // (intHash32(number) into an Int32 column reinterprets, never
    // errors — 00940); sign-extend through shifts
    case ByteType | ShortType | IntegerType | LongType
        if src.exists(s => s == ByteType || s == ShortType ||
          s == IntegerType || s == LongType) =>
      val bits = dt match {
        case ByteType => 8
        case ShortType => 16
        case IntegerType => 32
        case _ => 64
      }
      if (bits == 64) c.cast("long")
      else shiftright(shiftleft(c.cast("long"), 64 - bits), 64 - bits)
        .cast(dt)
    // ANSI refuses whole-array narrowing casts at analysis (Array(Int32)
    // columns ingesting bigint literals — 00943); cast per element
    // (NULL elements in non-Nullable arrays are refused EAGERLY by
    // appendTo so the error lands on the INSERT statement — 00748)
    case ArrayType(et, _) =>
      transform(c, x => chAlignCast(x, et))
    case _ => c.cast(dt)
  }

  /** Align an inserted block to `name`'s declared schema, append it,
    * re-register the view, and fire any materialized views whose base
    * is this table (reference: MVs are INSERT-triggered on the inserted
    * block only — StorageMaterializedView::write).
    */
  private def appendTo(name: String, inserted: DataFrame,
      givenCols: Seq[String], modeOverride: Option[String] = None,
      stagingOverride: Option[Boolean] = None,
      forcePartial: Boolean = false): Unit = {
    val st = tables.getOrElse(name,
      throw new IllegalArgumentException(s"INSERT into unknown table $name"))
    if (inserted.columns.length != givenCols.length)
      throw new IllegalArgumentException(
        s"INSERT arity ${inserted.columns.length} != ${givenCols.length}")
    // INSERT column names resolve case-insensitively against the
    // declared schema (MySQL inserts spell EVENT_DATE for EVENT_date)
    val colsCanon = givenCols.map(g => st.schema.fieldNames
      .find(_.equalsIgnoreCase(g)).getOrElse(g))
    // positional → named, then fill omitted columns from DEFAULT exprs
    // (declaration order: a default may reference earlier columns)
    var full = inserted.toDF(colsCanon: _*)
    st.schema.fields.foreach { f =>
      if (!colsCanon.contains(f.name)) {
        val d = st.defaults.get(f.name).map(chCol)
          .getOrElse(typeDefault(f.dataType))
        full = full.withColumn(f.name, d)
      }
    }
    val chTypeOf = st.declared.toMap
    // `_delete_flag_` virtual column (reference unique-table delete
    // path): a truthy flag marks the row as a DELETE of its key;
    // `_update_columns_` (partial-update path) lists the columns this
    // row overwrites — the rest keep the existing row's values
    val delSrc: Column =
      if (colsCanon.contains("_delete_flag_"))
        coalesce(col("`_delete_flag_`").cast("int"), lit(0))
      else lit(0)
    val providedCols = colsCanon
      .filterNot(Set("_delete_flag_", "_update_columns_"))
    val updSrc: Column =
      if (colsCanon.contains("_update_columns_")) {
        val v = coalesce(col("`_update_columns_`").cast("string"),
          lit(providedCols.mkString(",")))
        // explicit EMPTY list = full replace (no map merge), distinct
        // from the provided-columns default which merges maps
        when(trim(v) === "", lit("\u0002FULL")).otherwise(v)
      } else lit(providedCols.mkString(","))
    val partialNow = (partialUpdate && st.partialEnabled) || forcePartial
    val aligned = full.select(st.schema.fields.map { f =>
      // BitMap64 ingests Array literals → roaring bytes (the reference's
      // BitMapColumn insert path); everything else casts to declared type
      if (chTypeOf.get(f.name).contains("BitMap64"))
        expr(s"arrayToBitmap(`${f.name}`)").as(f.name)
      else if (chTypeOf.get(f.name).exists(t =>
          t.trim.toUpperCase.startsWith("TIME"))) {
        // Time column: canonical text at the DECLARED scale; NULL
        // default-fills to the zero time (10080_insert_time_data)
        val scale = chTypeOf(f.name).trim match {
          case t if t.contains("(") =>
            """\((\d+)\)""".r.findFirstMatchIn(t)
              .map(_.group(1).toInt).getOrElse(3)
          case _ => 3
        }
        expr(s"named_struct('__time', chTimeText(" +
          s"coalesce(cast(`${f.name}` as string), ''), $scale))").as(f.name)
      } else {
        // Enum columns ingest their UNDERLYING integers as names
        // (reference DataTypeEnum::castToName; 60000_mysql_enum inserts
        // VALUES(1, 1) into enum('test' = 1, ...))
        val enumMembers = chTypeOf.get(f.name).toSeq.flatMap { t =>
          """'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)""".r.findAllMatchIn(t)
            .map(mm => (mm.group(2).toInt,
              mm.group(1).replace("\\'", "'"))).toSeq
        }
        val srcType = full.schema.find(_.name == f.name).map(_.dataType)
        val isNumericSrc = srcType.exists {
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
          case _ => false
        }
        if (enumMembers.nonEmpty && isNumericSrc &&
            chTypeOf(f.name).toUpperCase.startsWith("ENUM")) {
          val c = col(s"`${f.name}`")
          enumMembers.foldLeft(lit(null).cast("string")) { case (acc, (v, n)) =>
            when(c === lit(v), lit(n)).otherwise(acc)
          }.as(f.name)
        } else chAlignCast(col(s"`${f.name}`"), f.dataType, srcType).as(f.name)
      }
    } :+ delSrc.as("__del") :+ updSrc.as("__upd") :+
      lit(if (partialNow) 1 else 0).as("__partial"): _*)
    // NULL elements in non-Nullable Array columns refuse the whole
    // insert (reference cannotConvert — 00748 clientError 349);
    // validated eagerly so the error lands on the INSERT statement,
    // not the first later scan
    st.schema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(_, false)
            if st.declared.exists(d => d._1 == f.name &&
              d._2.trim.startsWith("Array") &&
              !d._2.contains("Nullable(")) =>
          if (full.where(exists(col(s"`${f.name}`"),
              x => x.isNull)).limit(1).count() > 0)
            throw new IllegalArgumentException(
              s"NULL element in non-Nullable Array column ${f.name} " +
                "(error 349 analog)")
        case _ => ()
      }
    }
    // Decimal overflow in an inserted block is a per-INSERT error in
    // the reference (error 69/407, 00700_decimal_bounds) — surface it
    // EAGERLY like the Array-NULL check so the marked INSERT fails
    // instead of poisoning every later scan. Bounded evaluation: huge
    // INSERT SELECTs only validate a prefix (overflow fixtures are
    // hand-written small blocks).
    if (st.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])) {
      val decCols = st.schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] => col(s"`${f.name}`")
      }.toSeq
      aligned.select(decCols: _*).limit(100001).collect()
    }
    // CHECK constraints validate the inserted block before it commits
    // (reference CheckConstraintsTransform — error 469 names the
    // constraint and aborts the whole insert)
    st.constraints.foreach { case (cn, ex) =>
      // the reference requires UInt8 (or Nullable(UInt8)) constraint
      // expressions — wider types refuse at insert (01721, error 1)
      val dt = aligned.select(chCol(ex)).schema.head.dataType
      dt match {
        case BooleanType | ByteType | ShortType | IntegerType => ()
        case other => throw new IllegalArgumentException(
          s"Constraint `$cn` expression must be UInt8, got " +
            s"${other.simpleString} (error 1 analog)")
      }
      val ok = coalesce(chCol(ex).cast("boolean"), lit(false))
      if (aligned.where(!ok).limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"Constraint `$cn` for table $name is violated (error 469 analog)")
    }
    val mode = modeOverride.getOrElse(dedupKeyMode)
    if (st.uniqueKey.isEmpty) {
      val block0 = aligned.drop("__del", "__upd", "__partial")
      // MergeTree writes each inserted block as a part SORTED by the
      // sorting key and reads concatenate parts in commit order — a
      // stable re-sort (60104's toYYYYMM tie order follows the table's
      // ORDER BY, not insertion order). Materialized so a later outer
      // ORDER BY cannot EliminateSorts the part order away.
      // bounded: a huge INSERT SELECT (00906 writes 1e8 rows) must not
      // collect to the driver — per-part order is only observable in
      // small fixtures, so big blocks append lazily
      val block =
        if (st.orderKey.nonEmpty &&
            block0.limit(100001).count() <= 100000L) {
          import scala.jdk.CollectionConverters._
          val rows = block0
            .withColumn("__seq", monotonically_increasing_id())
            .orderBy(st.orderKey.map(k => col(s"`$k`")) :+ col("__seq"): _*)
            .drop("__seq").collect().toSeq
          // single partition: a re-read LocalRelation parallelizes to
          // defaultParallelism otherwise, and per-partition limits would
          // interleave the part order away
          spark.createDataFrame(rows.asJava, block0.schema).coalesce(1)
        } else block0
      st.data = st.data.unionByName(block)
    } else {
    val stamped = aligned.withColumn("__commit", lit(commitSeq))
    commitSeq += 1
    if (stagingOverride.getOrElse(stagingWrite)) {
      // staged: invisible until the dedup worker flushes (reference:
      // "Only UPSERT mode can write to staging area")
      if (mode != "replace")
        throw new IllegalArgumentException(
          "Only UPSERT mode can write to staging area")
      stagingData(name) = stagingData.get(name)
        .map(_.unionByName(stamped)).getOrElse(stamped)
    } else {
      // throw's duplicate check runs BEFORE the flush: staged parts are
      // invisible to it (reference: "does not throw for invisible data")
      if (mode == "throw")
        upsertByKey(st, stamped, "throw")
      // txn-commit impl: this direct commit flushes pending staged parts
      if (!st.dedupInWriteSuffix) flushStagingFor(name)
      val cur = tables(name)
      if (mode == "append") {
        // append skips dedup; delete-flag rows still remove their keys
        val dels = stamped.filter(col("__del") =!= 0)
        val base = upsertByKey(cur, dels, "replace")
        cur.data = base.unionByName(
          stamped.filter(col("__del") === 0)
            .drop("__del", "__upd", "__partial"))
      } else if (partialNow)
        cur.data = partialUpsert(cur, stamped)
      else
        cur.data = upsertByKey(cur, stamped,
          if (mode == "throw") "replace" else mode)
    }
    }
    registerView(name)
    // MV cascade: the inserted block alone is visible under the base
    // name while each dependent select runs
    mvs.filter(_.base == name).foreach { mv =>
      aligned.drop("__del", "__upd", "__partial").createOrReplaceTempView(name)
      try {
        val res = spark.sql(
          ChTranspiler.transpile(ChSession.stripDbRefs(mv.selectSql)))
        appendTo(mv.target, res, res.columns.toSeq)
      } finally registerView(name)
    }
  }

  private def registerView(name: String): Unit = {
    val st = tables(name)
    // lazily-defaulted columns surface the CURRENT type's default where
    // the stored marker is NULL (see TableState.lazyDefault)
    val visible = st.data.drop("__commit")
    val filled =
      if (st.lazyDefault.isEmpty) visible
      else visible.select(st.schema.fieldNames.map { fn =>
        if (st.lazyDefault(fn))
          coalesce(col(s"`$fn`"),
            typeDefault(st.schema(fn).dataType)).as(fn)
        else col(s"`$fn`")
      }.toSeq: _*)
    // an unordered SELECT observes the merged table's sorting-key order
    // (MergeTree parts merge-sort on read); register the sorted view
    val view =
      if (st.orderKey.nonEmpty)
        // stable: ties keep the underlying (part/commit) order — Spark's
        // TakeOrderedAndProject heap is tie-UNSTABLE without this
        filled.withColumn("__ord", monotonically_increasing_id())
          .orderBy(st.orderKey.map(k => col(s"`$k`")) :+ col("__ord"): _*)
          .drop("__ord")
      else filled
    view.createOrReplaceTempView(name)
  }

  private def describe(s: String): Result = s match {
    case descRe(name) =>
      tables.get(resolveTableKey(cleanName(name))) match {
        case Some(st) if st.mysqlTable =>
          // MySQL-dialect layout adds the nullability column
          // (name, type, null, key, default kind, default, comment, ...)
          Output(st.declared.map { case (n, t) =>
            val (kind, exprTxt, comment) = st.meta.getOrElse(n, ("", "", ""))
            val nullable =
              !st.schema(n).metadata.contains("graft.ch.nonnull")
            Row(n, t, if (nullable) "true" else "false", "",
              kind, mysqlDefaultText(exprTxt), comment, "", "") })
        case Some(st) =>
          // standard-SQL decimal spellings describe in CH canonical form
          // (reference DataTypeFactory aliases: DECIMAL(9,4) ->
          // Decimal(9, 4) — 00700_decimal_defaults)
          def canonType(t: String): String =
            """(?i)^(?:DECIMAL|DEC|NUMERIC|FIXED)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$""".r
              .findFirstMatchIn(t.trim)
              .map(m => s"Decimal(${m.group(1)}, ${m.group(2)})")
              .getOrElse(t)
          Output(st.declared.map { case (n, t) =>
            val (kind, exprTxt, comment) = st.meta.getOrElse(n, ("", "", ""))
            Row(n, canonType(t), "", kind, exprTxt, comment, "", "") })
        case None => NotHandled // DESCRIBE of a subquery etc.
      }
    case _ => NotHandled
  }

  private case class ColDef(field: StructField, chType: String,
      default: Option[String], hidden: Boolean = false,
      kind: String = "", comment: String = "",
      // bare `name DEFAULT/MATERIALIZED expr` with no declared type:
      // the real type comes from evaluating the expression against the
      // preceding columns (reference infers the same way)
      inferType: Boolean = false,
      rinn: Boolean = false,
      onUpdate: Option[String] = None)

  /** `n Nested(a T, b U)` flattens to parallel array columns `n.a`
    * Array(T), `n.b` Array(U) — the reference's storage model
    * (DataTypeNested flattening in NestedUtils.cpp); everything else is
    * a single column.
    */
  private def expandColDef(def0: String): Seq[ColDef] = {
    val m = nestedRe.findFirstMatchIn(def0.trim)
    m match {
      case Some(mm) =>
        val outer = cleanName(mm.group(1))
        val inner = splitTop(mm.group(2)).map(_.trim).filter(_.nonEmpty)
        val subs = inner.flatMap(parseColDef).map(_.field.name)
        if (subs.nonEmpty) ChTranspiler.registerNestedGroup(outer, subs)
        inner.flatMap(parseColDef).map { cd =>
          cd.copy(
            field = cd.field.copy(
              name = s"$outer.${cd.field.name}",
              dataType = ArrayType(cd.field.dataType)),
            chType = s"Array(${cd.chType})",
            default = None)
        }
      case None => parseColDef(def0).toSeq
    }
  }

  private val nestedRe =
    """(?is)^(`[^`]+`|[A-Za-z_]\w*)\s+Nested\s*\((.*)\)\s*$""".r

  /** `name Type [DEFAULT expr] [CODEC…] [TTL…] [COMMENT…]`. MATERIALIZED
    * and ALIAS compute like DEFAULT at insert (visibility difference in
    * `SELECT *` is not modeled — corpus files that observe it diff out).
    */
  private def parseColDef(def0: String): Option[ColDef] = {
    val m = colDefRe.findFirstMatchIn(def0.trim).getOrElse(return None)
    val name = colName(m.group(1))
    var rest = m.group(2).trim
    // MySQL-dialect table constraints inside the column list are not
    // columns (KEY(...)/CLUSTERED KEY(...)/PRIMARY KEY(...)): skip them —
    // a genuine column NAMED `key` has a type, not a paren/KEY after it
    val nameUp = name.toUpperCase
    // `KEY(a, b)` / `KEY idx(a)` are constraints; `key FixedString(10)`
    // is a COLUMN named key — only skip when the remainder is NOT a
    // parseable type (40059/01503 declare `key` columns)
    def restIsType: Boolean =
      try { ChTypes.parse(rest.split("""(?i)\s+(NOT\s+)?NULL""")(0)); true }
      catch { case _: Exception => false }
    if ((Set("KEY", "INDEX", "CONSTRAINT", "FULLTEXT").contains(nameUp) &&
          (rest.startsWith("(") ||
            (rest.matches("(?is)^[\\w`]+\\s*\\(.*") && !restIsType))) ||
        (Set("CLUSTERED", "PRIMARY", "UNIQUE").contains(nameUp) &&
          rest.toUpperCase.startsWith("KEY")))
      return None
    // MySQL column modifiers with no CH analogue: AUTO_INCREMENT /
    // ZEROFILL / ON UPDATE <expr> are storage-behavior hints here
    rest = """(?i)\s*\b(AUTO_INCREMENT|ZEROFILL|PRIMARY\s+KEY|COMPRESSION(\s+DICTIONARY)?|BLOOM|BITMAPINDEX|KLL)\b""".r
      .replaceAllIn(rest, "")
    val onUpdRe =
      """(?i)\bON\s+UPDATE\s+([^,]*?)(?=\s*\b(?:COMMENT|CODEC|TTL|DEFAULT|NOT\s+NULL|NULL)\b|$)""".r
    val onUpdate = onUpdRe.findFirstMatchIn(rest).map(_.group(1).trim)
      .filter(_.nonEmpty)
    rest = onUpdRe.replaceAllIn(rest, "").trim
    // REPLACE_IF_NOT_NULL (partial-update tables): a NULL incoming
    // value keeps the existing one
    val rinnRe = """(?i)\s*\bREPLACE_IF_NOT_NULL\b\s*""".r
    val rinn = rinnRe.findFirstIn(rest).isDefined
    if (rinn) rest = rinnRe.replaceAllIn(rest, " ").trim
    // COMMENT 'text' anywhere in the definition (DESCRIBE field 6)
    val comment = """(?i)\bCOMMENT\s+'((?:[^'\\]|\\.)*)'""".r
      .findFirstMatchIn(def0)
      .map(_.group(1).replace("\\'", "'")).getOrElse("")
    // cut trailing modifiers
    var default: Option[String] = None
    var kind = ""
    // MATERIALIZED/ALIAS columns compute from their expression and are
    // NOT part of the positional insert list (reference
    // ColumnDefaultKind: they are also hidden from SELECT *)
    var hidden = false
    // modifier keywords inside STRING literals are data, not clauses
    // (02313: `Enum('default' = 0, …)` must not read as DEFAULT)
    modifierRe.findFirstMatchIn(maskStrings(rest)).foreach { mm =>
      val kw = mm.group(1).toUpperCase
      val tail = rest.substring(mm.start + mm.group(1).length).trim
      rest = rest.substring(0, mm.start).trim
      if (kw == "DEFAULT" || kw == "MATERIALIZED" || kw == "ALIAS") {
        hidden = kw != "DEFAULT"
        kind = kw
        // default expr runs to the next modifier keyword (or end)
        val stop = modifierRe.findFirstMatchIn(maskStrings(tail)).map(_.start)
          .getOrElse(tail.length)
        default = Some(tail.substring(0, stop).trim)
      }
    }
    if (rest.isEmpty) {
      // bare `name DEFAULT expr`: type inferred from the expression at
      // CREATE time (see createTable's inference pass)
      default.map { d =>
        ColDef(StructField(name, StringType, nullable = true), "String",
          Some(d), hidden, kind, comment, inferType = true)
      }
    } else {
      // `a Int32 NULL` / `NOT NULL` suffix spelling of (non-)Nullable
      val nullSuffix = """(?is)\s+(NOT\s+)?NULL\s*$""".r
      val notNull =
        nullSuffix.findFirstMatchIn(rest).exists(_.group(1) != null)
      // under dialect_type='MYSQL' every column is implicitly Nullable
      // unless NOT NULL (the reference's MySQL DDL goldens print
      // `Int32 NULL` for a plain `int` column)
      val mysqlImplicitNull = !notNull && mysqlDialectNow
      val explicitNullable =
        nullSuffix.findFirstMatchIn(rest).exists(_.group(1) == null) ||
          mysqlImplicitNull
      val typeText0 = nullSuffix.replaceFirstIn(rest, "")
      // MySQL-alias type spellings normalize to the CH canonical form
      // for DESCRIBE/SHOW CREATE (reference DataTypeFactory MySQL
      // domain: int -> Int32, datetime -> DateTime64(3), ...)
      val typeText =
        if (mysqlDialectNow) ChTypes.canonicalMySql(typeText0)
        else typeText0
      val (dt, chNullable) = ChTypes.parse(typeText)
      // a Nullable column's implicit default is NULL, not the type zero
      val d = default.orElse(
        if (chNullable || explicitNullable) Some("NULL") else None)
      // Enum columns map to String but their type default is the FIRST
      // listed member (reference DataTypeEnum::getDefault,
      // DataTypeEnum.cpp:77) — carried as field metadata so totals /
      // default-fill paths can print it. Non-Nullable CH columns are
      // also marked: Spark schemas here are always nullable=true, but
      // rollup/totals filler semantics depend on the DECLARED
      // nullability (Nullable fills NULL, plain types fill defaults).
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      """(?is)^Enum(?:8|16)?\s*\(\s*'((?:[^'\\]|\\.)*)'""".r
        .findFirstMatchIn(typeText.trim)
        .foreach(m =>
          mb.putString("graft.ch.enumDefault", m.group(1).replace("\\'", "'")))
      if (!(chNullable || explicitNullable))
        mb.putBoolean("graft.ch.nonnull", true)
      else
        // the converse marker: DECLARED Nullable — consumers that treat
        // unmarked attributes (aggregate outputs, computed columns) as
        // CH-non-null need the positive signal too (ChSum)
        mb.putBoolean("graft.ch.nullable", true)
      // explicit column timezone: DateTime('UTC') / DateTime64(3, 'UTC')
      // — epoch reads render in THAT zone, not the session's
      """(?is)^(?:Nullable\s*\(\s*)?DateTime(?:64)?\s*\(\s*(?:\d+\s*,\s*)?'([^']+)'"""
        .r.findFirstMatchIn(typeText.trim)
        .foreach(m => mb.putString("graft.ch.tz", m.group(1)))
      // DateTime64 declared scale — rendered as exactly that many
      // fractional digits (ChFormat.tsTextScaled)
      """(?is)^(?:Nullable\s*\(\s*)?DateTime64\s*(?:\(\s*(\d+))?"""
        .r.findFirstMatchIn(typeText.trim)
        .foreach(m => mb.putLong("graft.ch.dt64",
          Option(m.group(1)).map(_.toLong).getOrElse(3L)))
      val meta = mb.build()
      Some(ColDef(StructField(name, dt, nullable = true, meta), typeText, d,
        hidden, kind, comment, rinn = rinn, onUpdate = onUpdate))
    }
  }

  /** UNIQUE KEY merge of one inserted block into the table (reference
    * CnchDedupHelper): key = unique-key columns (+ the partition value
    * when partition-level). Within the block the LAST row per key wins
    * (FIRST under `ignore`); against existing data, `replace` removes
    * the old rows — unless a version column says the old row is newer —
    * `ignore` keeps them, `throw` raises on any duplicate.
    */
  /** Partial-update merge (reference enable_unique_partial_update):
    * each block row overwrites ONLY the columns in its
    * `_update_columns_` list (default: the INSERT's provided columns);
    * unlisted columns keep the existing row's values, or take their
    * type/DEFAULT value when the key is new. Rows apply SEQUENTIALLY
    * (a block's later row merges over the earlier row's result), a
    * lower-version row is skipped entirely, and Map columns merge
    * key-wise while partial_update_enable_merge_map holds.
    */
  private def partialUpsert(st: TableState, aligned: DataFrame): DataFrame = {
    val pCol: Option[Column] =
      if (st.partitionLevel)
        st.partitionExprText.flatMap { e =>
          try Some(chCol(e)) catch { case _: Throwable => None }
        }
      else None
    def withKey(df: DataFrame): DataFrame = {
      val parts = st.uniqueKey.map(c => col(s"`$c`").cast("string")) ++
        pCol.map(_.cast("string")).toSeq
      df.withColumn("__ukey", concat_ws("\u0001", parts: _*))
    }
    def ensureCommit(df: DataFrame): DataFrame =
      if (df.columns.contains("__commit")) df
      else df.withColumn("__commit", lit(0L))
    def vCol(v: String): Column =
      if (st.schema.fieldNames.contains(v)) col(s"`$v`") else chCol(v)
    val names = st.schema.fieldNames.toSeq
    val rows = withKey(aligned)
      .withColumn("__seq", monotonically_increasing_id())
    // Sequential semantics only matter BETWEEN rows sharing a key (a
    // later row merges over the earlier row's result). When every block
    // row has a distinct key — the normal case — the whole block applies
    // as ONE full-outer join instead of a join per row (a 1,000-row
    // INSERT would otherwise stack 1,000 joins into a single plan).
    val hasDupKeys = rows.groupBy(col("__ukey")).count()
      .filter(col("count") > 1).limit(1).count() > 0
    val batches: Seq[DataFrame] =
      if (!hasDupKeys) Seq(rows)
      else rows.select(col("__seq")).collect().map(_.getLong(0)).sorted
        .map(sq => rows.filter(col("__seq") === sq)).toSeq
    var data = ensureCommit(st.data)
    batches.foreach { blk =>
      val one = blk
        .select((names.map(n => col(s"`$n`").as(s"__n_$n")) ++
          Seq(col("__ukey"), col("__del"), col("__upd"),
            col("__commit").as("__ncommit"))): _*)
      val oldK = withKey(data).withColumn("__old", lit(1))
      val joined = oldK.join(one, Seq("__ukey"), "full_outer")
      val updArr = split(col("__upd"), ",")
      // version gate: a block row older than the live row is skipped
      val gate: Column = st.versionCol match {
        case Some(v) =>
          col("__old").isNotNull &&
            vCol(v) > UnresolvedExtractValueFree(s"__n_$v")
        case None => lit(false)
      }
      def nv(n: String) = col(s"`__n_$n`")
      val fullRow = col("__upd") === "\u0002FULL"
      def listedCol(n: String): Column = fullRow ||
        array_contains(updArr, lit(n)) ||
        array_contains(updArr, lit(" " + n))
      val merged = joined.select((names.map { n =>
        val isKeyCol = lit(st.uniqueKey.contains(n))
        val listed = listedCol(n)
        val oldV = col(s"`$n`")
        val tDflt = typeDefault(st.schema(n).dataType)
          .cast(st.schema(n).dataType)
        val isMap = st.schema(n).dataType.isInstanceOf[MapType]
        // map columns merge key-wise — except under an explicit-empty
        // (full replace) list, which overwrites the whole map
        val newMerged0 =
          if (isMap && st.mergeMap)
            when(fullRow, nv(n))
              .otherwise(map_concat(coalesce(oldV, tDflt), nv(n)))
          else nv(n)
        // REPLACE_IF_NOT_NULL: a NULL incoming value keeps the old one
        val newMerged =
          if (st.rinnCols(n)) coalesce(newMerged0, oldV) else newMerged0
        when(col("__upd").isNull, oldV) // no block row for this key
          .when(gate, oldV)             // lower version: skip merge
          .when(col("__old").isNull,    // brand-new key
            when(isKeyCol || listed, nv(n)).otherwise(tDflt))
          .when(isKeyCol, nv(n))
          .when(listed, newMerged)
          .otherwise(oldV)
          .as(n)
      } ++ Seq(
        coalesce(col("__ncommit"), col("__commit"), lit(0L))
          .as("__commit"),
        when(col("__upd").isNotNull && !gate,
          coalesce(col("__del"), lit(0))).otherwise(lit(0))
          .as("__delx"),
        (col("__old").isNull && col("__upd").isNotNull).as("__isnew"),
        col("__upd").as("__updx"))): _*)
      // declared DEFAULT expressions for a new key's unlisted columns
      // evaluate against the MERGED row (a default may reference the
      // freshly inserted columns), in declaration order
      var out = merged
      st.schema.fields.foreach { f =>
        st.defaults.get(f.name).foreach { d =>
          val updArr2 = split(col("__updx"), ",")
          val listed2 = col("__updx") === "\u0002FULL" ||
            array_contains(updArr2, lit(f.name)) ||
            array_contains(updArr2, lit(" " + f.name))
          val dCol = try chCol(d).cast(f.dataType)
            catch { case _: Throwable => col(s"`${f.name}`") }
          out = out.withColumn(f.name,
            when(col("__isnew") && !listed2 &&
              lit(!st.uniqueKey.contains(f.name)), dCol)
              .otherwise(col(s"`${f.name}`")))
        }
      }
      data = out.filter(col("__delx") === 0)
        .drop("__delx", "__isnew", "__updx")
    }
    data
  }

  /** Helper: reference a renamed block column by name (analysis-time). */
  private def UnresolvedExtractValueFree(n: String): Column = col(s"`$n`")

  private def upsertByKey(st: TableState, aligned: DataFrame,
      mode: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pCol: Option[Column] =
      if (st.partitionLevel)
        st.partitionExprText.flatMap { e =>
          try Some(chCol(e)) catch { case _: Throwable => None }
        }
      else None
    def withKey(df: DataFrame): DataFrame = {
      val parts = st.uniqueKey.map(c => col(s"`$c`").cast("string")) ++
        pCol.map(_.cast("string")).toSeq
      df.withColumn("__ukey", concat_ws("\u0001", parts: _*))
    }
    def ensureCommit(df: DataFrame): DataFrame =
      if (df.columns.contains("__commit")) df
      else df.withColumn("__commit", lit(0L))
    def vCol(v: String): Column =
      if (st.schema.fieldNames.contains(v)) col(s"`$v`") else chCol(v)
    // "version unset" for any version type: 0 for numerics, the epoch
    // for Date/DateTime (CH zero values). Timestamps compare the
    // underlying instant (cast to long), not their zone-formatted text —
    // toDateTime(0) must read as unset under any session timezone
    def isVersionZero(v: Column): Column = {
      val dt = scala.util.Try(st.data.select(v).schema.head.dataType)
        .getOrElse(StringType)
      dt match {
        case TimestampType | TimestampNTZType => v.cast("long") === 0L
        case DateType => v.cast("string") === "1970-01-01"
        case _: NumericType => v === lit(0)
        case _ => coalesce(v.cast("string"), lit("0")).isin(
          "0", "0.0", "1970-01-01", "1970-01-01 00:00:00")
      }
    }
    val cols = st.schema.fieldNames.map(c => col(s"`$c`")).toSeq
    // the table keeps its __commit stamps (dedup by part commit order)
    val outCols = cols :+ col("__commit")
    val newK = withKey(ensureCommit(aligned))
      .withColumn("__seq", monotonically_increasing_id())
    val oldK = withKey(ensureCommit(st.data))
    val vOrder: Seq[Column] = st.versionCol.map(v => vCol(v).desc).toSeq
    mode match {
      case "throw" =>
        // the duplicate CHECK runs against the VISIBLE data only (the
        // caller checks before flushing staged parts — reference: throw
        // ignores invisible staging data); the merge itself is replace
        val live = newK.filter(col("__del") === 0)
        val blockDups = live.groupBy(col("__ukey")).count()
          .filter(col("count") > 1).limit(1).count()
        val existDups = live.join(oldK.select(col("__ukey")),
          Seq("__ukey"), "left_semi").limit(1).count()
        if (blockDups > 0 || existDups > 0)
          throw new IllegalArgumentException(
            "duplicate unique key under dedup_key_mode=throw")
        oldK.join(newK.filter(col("__del") =!= 0)
            .select(col("__ukey")).distinct(), Seq("__ukey"), "left_anti")
          .select(outCols: _*)
          .unionByName(live.select(outCols: _*))
      case "ignore" =>
        // sequential per-key semantics: a delete removes the key — on a
        // versioned table only when its version EXCEEDS the existing
        // row's — then the FIRST insert after the last delete wins;
        // without a delete, an existing row beats every insert
        val dels = newK.filter(col("__del") =!= 0)
        val perKey = newK.groupBy(col("__ukey")).agg(
          max(when(col("__del") =!= 0, col("__seq"))).as("__lastDel"))
        val oldKept = st.versionCol match {
          case Some(v) =>
            // a delete with version 0 (unset) ignores the version check
            // and deletes unconditionally (reference delete-flag rule)
            val delAgg = dels.groupBy(col("__ukey")).agg(
              max(vCol(v)).as("__delv"),
              max(when(isVersionZero(vCol(v)), 1).otherwise(0)).as("__dv0"))
            oldK.join(delAgg, Seq("__ukey"), "left_outer")
              .filter(col("__delv").isNull ||
                (col("__dv0") === 0 && col("__delv") <= vCol(v)))
              .drop("__delv", "__dv0")
          case None =>
            oldK.join(dels.select(col("__ukey")).distinct(),
              Seq("__ukey"), "left_anti")
        }
        val cands = newK.filter(col("__del") === 0)
          .join(perKey, Seq("__ukey"))
          .filter(col("__lastDel").isNull || col("__seq") > col("__lastDel"))
        val candW = Window.partitionBy(col("__ukey"))
          .orderBy(col("__seq").asc)
        val winners = cands.withColumn("__rn", row_number().over(candW))
          .filter(col("__rn") === 1)
        oldKept.select(outCols: _*)
          .unionByName(winners.join(
            oldKept.select(col("__ukey")).distinct(),
            Seq("__ukey"), "left_anti").select(outCols: _*))
      case _ =>
        // replace / staged-flush: one unified merge — version first
        // (higher wins), then commit order (later insert wins: a staged
        // block LOSES to rows the table received after it was written),
        // then in-block position; a winning delete removes the key
        val merged = oldK.withColumn("__del", lit(0))
          .withColumn("__seq", lit(-1L))
          .select((outCols :+ col("__ukey") :+ col("__del") :+ col("__seq")): _*)
          .unionByName(newK
            .select((outCols :+ col("__ukey") :+ col("__del") :+ col("__seq")): _*))
        // an unset-version (0) delete outranks every version: it deletes
        // unconditionally (reference delete-flag rule)
        val delV0: Seq[Column] = st.versionCol.map(v =>
          when(col("__del") =!= 0 && isVersionZero(vCol(v)), 1)
            .otherwise(0).desc).toSeq
        val w = Window.partitionBy(col("__ukey"))
          .orderBy((delV0 ++ vOrder :+ col("__commit").desc :+ col("__seq").desc): _*)
        merged.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && col("__del") === 0)
          .select(outCols: _*)
    }
  }

  /** Flush one table's staged blocks via the dedup worker's replace
    * rule (txn-commit impl: a direct insert's commit dedups pending
    * staged parts first — their earlier commit stamps make them lose
    * any key contested by the direct block).
    */
  private def flushStagingFor(name: String, force: Boolean = false): Unit =
    tables.get(name).foreach { st =>
      if (force || !(st.dedupInWriteSuffix && stoppedWorkers(name)))
        stagingData.remove(name).foreach { staged =>
          // parts apply SEQUENTIALLY in commit order: a later staged
          // insert re-adds a key a tombstone removed — the version check
          // runs against the LIVE row only, never a kept tombstone
          val commits = staged
            .select(col("__commit"), col("__partial")).distinct()
            .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
          commits.foreach { case (c, partial) =>
            val cur = tables(name)
            val blockC = staged.filter(col("__commit") === c)
            cur.data =
              if (partial == 1) partialUpsert(cur, blockC)
              else upsertByKey(cur, blockC, "replace")
          }
          registerView(name)
        }
    }

  /** SYSTEM SYNC DEDUP WORKER / REPAIR TASK: flush any staged block
    * into the table via the replace rule, then dedup the table itself
    * (repairs duplicates appended with dedup_key_mode=append).
    */
  private def syncDedup(name: String): Unit = {
    val st = tables.getOrElse(name, return)
    if (st.uniqueKey.isEmpty) return
    flushStagingFor(name, force = true)
    // repair pass: the whole table as one block over an empty table
    val cur = tables(name)
    val empty = cur.data.limit(0)
    cur.data = upsertByKey(cur.copy(data = empty),
      cur.data.withColumn("__del", lit(0)), "replace")
    registerView(name)
  }

  /** One CH-dialect scalar expression as a Spark Column. */
  private def chCol(e: String): Column =
    expr(ChTranspiler.transpile("SELECT " + e)
      .replaceFirst("(?is)^\\s*SELECT\\s+", ""))

  /** ALTER TABLE t <cmd> [, <cmd> …] (reference AlterCommands.cpp +
    * MutationsInterpreter.cpp): schema commands rebuild the table state
    * and reproject the data; UPDATE/DELETE mutations re-materialize the
    * DataFrame the way a mutation rewrites parts — all assignments read
    * the OLD row, exactly the reference's simultaneous-assignment rule.
    * Physical-layout commands with no temp-view analogue (partitions,
    * indexes, projections, TTL, settings) are accepted as no-ops when
    * they cannot change observable results, and rejected otherwise.
    */
  private def alter(s: String): Unit = {
    val m = alterRe.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"cannot parse ALTER: ${s.take(60)}"))
    val name = resolveTableKey(cleanName(m.group(1)))
    if (!tables.contains(name))
      throw new IllegalArgumentException(s"ALTER of unknown table $name")
    splitAlterCommands(m.group(2)).foreach(cmd => alterOne(name, cmd.trim))
  }

  /** Top-level commas separate commands, but only when the next segment
    * starts with a command keyword — an UPDATE assignment list is ONE
    * command with internal commas.
    */
  private def splitAlterCommands(body: String): Seq[String] = {
    val segs = splitTop(body)
    val out = mutable.ArrayBuffer[String]()
    segs.foreach { seg =>
      if (out.isEmpty || alterKwRe.pattern.matcher(seg.trim).find())
        out += seg
      else out(out.length - 1) = out.last + "," + seg
    }
    out.toSeq
  }

  private val commentColRe =
    """(?is)^COMMENT\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s+'((?:[^'\\]|\\.)*)'\s*$""".r

  private val addConstraintRe =
    """(?is)^ADD\s+CONSTRAINT\s+(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|\w+)\s+CHECK\s+(.+)$""".r
  private val dropConstraintRe =
    """(?is)^DROP\s+CONSTRAINT\s+(?:IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s*$""".r

  private def alterOne(name: String, cmd: String): Unit = {
    val st = tables(name)
    val up = cmd.toUpperCase
    cmd match {
      case addConstraintRe(cn, ex) =>
        tables(name) = st.copy(
          constraints = st.constraints + (cleanName(cn) -> ex.trim))
        return
      case dropConstraintRe(cn) =>
        tables(name) = st.copy(constraints = st.constraints - cleanName(cn))
        return
      case commentColRe(colName, text) =>
        val cn = cleanName(colName)
        if (st.schema.fieldNames.contains(cn)) {
          val (kind, dflt, _) = st.meta.getOrElse(cn, ("", "", ""))
          tables(name) = st.copy(meta =
            st.meta.updated(cn, (kind, dflt, text.replace("\\'", "'"))))
        }
        return
      case addColRe(ifne, defText, pos)
          if """(?i)^(INDEX|PROJECTION|CONSTRAINT|KEY)\b""".r
            .findFirstIn(defText.trim).isEmpty =>
        val exists = ifne != null
        val cds = expandColDef(defText.trim)
        val anyExists = cds.exists(cd =>
          st.schema.fieldNames.contains(cd.field.name))
        if (anyExists && !exists)
          throw new IllegalArgumentException(
            s"column already exists: ${cds.map(_.field.name).mkString(",")}")
        // IF NOT EXISTS on a Nested group: a no-op when ANY member
        // exists (the reference checks the nested column as a whole)
        if (!anyExists) {
          // a Nested ADD expands to several columns: the first lands at
          // the given position, each next AFTER its predecessor
          var prevPos = Option(pos)
          cds.foreach { cd =>
            addColumn(name, cd, prevPos)
            prevPos = Some(s"AFTER ${cd.field.name}")
          }
        }
      case dropColRe(ife, col0)
          if !Set("TTL", "PARTITION", "INDEX", "PROJECTION", "CONSTRAINT",
            "DETACHED").contains(colName(col0).toUpperCase) =>
        val c = colName(col0)
        val stx = tables(name)
        if (!stx.schema.fieldNames.contains(c)) {
          if (ife == null) throw new IllegalArgumentException(
            s"cannot DROP unknown column $c")
        } else dropColumn(name, c)
      // MySQL `ALTER TABLE t RENAME [TO|AS] new` = RENAME TABLE
      case cmdText if """(?is)^RENAME\s+(?:TO\s+|AS\s+)?([`\w.]+)\s*$""".r
          .findFirstMatchIn(cmdText.trim)
          .exists(mm => !mm.group(1).equalsIgnoreCase("column")) =>
        val nn = """(?is)^RENAME\s+(?:TO\s+|AS\s+)?([`\w.]+)\s*$""".r
          .findFirstMatchIn(cmdText.trim).get.group(1)
        // CH refuses a cross-database rename (error 48): an unqualified
        // target lands in the CURRENT database, which may differ from
        // the source table's
        val bare = nn.replace("`", "")
        val tgtDb = if (bare.contains('.'))
          bare.substring(0, bare.lastIndexOf('.')) else currentDb
        if (tgtDb != st.rawDb)
          throw new UnsupportedOperationException(
            s"RENAME between databases ${st.rawDb} and $tgtDb is not " +
              "implemented (error 48 analog)")
        renameTable(s"RENAME TABLE $name TO $nn")
      case renameColRe(ife, a0, b0) =>
        val a = colName(a0); val b = colName(b0)
        val stx = tables(name)
        if (!stx.schema.fieldNames.contains(a)) {
          if (ife == null) throw new IllegalArgumentException(
            s"cannot RENAME unknown column $a")
        } else renameColumn(name, a, b)
      case commentColRe(_, col0, text) =>
        val c = colName(col0)
        val stx = tables(name)
        val (k, e, _) = stx.meta.getOrElse(c, ("", "", ""))
        tables(name) = stx.copy(meta =
          stx.meta + (c -> ((k, e, text.replace("\\'", "'")))))
      case clearColRe(_, col0) =>
        val c = colName(col0)
        val stx = tables(name)
        val f = stx.schema(c)
        val d = stx.defaults.get(c).map(chCol).getOrElse(typeDefault(f.dataType))
        stx.data = stx.data.withColumn(c, d.cast(f.dataType))
        registerView(name)
      case updateRe(assignsText, condText) =>
        val assigns = splitTop(assignsText).map { a =>
          val eq = topLevelEq(a)
          (colName(a.substring(0, eq).trim), a.substring(eq + 1).trim)
        }.toMap
        val stx = tables(name)
        val cond = chCol(condText)
        stx.data = stx.data.select(stx.schema.fieldNames.map { fn =>
          assigns.get(fn) match {
            case Some(rhs) =>
              when(coalesce(cond.cast("boolean"), lit(false)),
                chCol(rhs).cast(stx.schema(fn).dataType))
                .otherwise(col(s"`$fn`")).as(fn)
            case None => col(s"`$fn`")
          }
        }.toSeq: _*)
        registerView(name)
      case deleteRe(condText) =>
        val stx = tables(name)
        val cond = chCol(condText)
        stx.data = stx.data.filter(
          !coalesce(cond.cast("boolean"), lit(false)))
        registerView(name)
      case modifyColRe(ife, rest0)
          if """(?i)^(TTL|SETTING|ORDER|QUERY|SAMPLE|PRIMARY|CLUSTER|COMMENT)\b""".r
            .findFirstIn(rest0.trim).isEmpty =>
        val rest = rest0.trim
        // REMOVE <property> form
        val rinnM = """(?is)^(`[^`]+`|[A-Za-z_][\w.]*)\s+REPLACE_IF_NOT_NULL\s*$""".r
        rinnM.findFirstMatchIn(rest).foreach { rm =>
          val c = colName(rm.group(1))
          tables(name) = tables(name).copy(
            rinnCols = tables(name).rinnCols + c)
          return
        }
        val rinnOffM = """(?is)^(`[^`]+`|[A-Za-z_][\w.]*)\s+REMOVE\s+REPLACE_IF_NOT_NULL\s*$""".r
        rinnOffM.findFirstMatchIn(rest).foreach { rm =>
          val c = colName(rm.group(1))
          tables(name) = tables(name).copy(
            rinnCols = tables(name).rinnCols - c)
          return
        }
        val removeM = """(?is)^(`[^`]+`|[A-Za-z_][\w.]*)\s+REMOVE\s+(DEFAULT|MATERIALIZED|ALIAS|COMMENT|CODEC|TTL)\s*$""".r
        val commentM = """(?is)^(`[^`]+`|[A-Za-z_][\w.]*)\s+COMMENT\s+'((?:[^'\\]|\\.)*)'\s*$""".r
        removeM.findFirstMatchIn(rest) match {
          case Some(rm) =>
            val c = colName(rm.group(1))
            val prop = rm.group(2).toUpperCase
            val stx = tables(name)
            val (k, e, cm) = stx.meta.getOrElse(c, ("", "", ""))
            // removing a property the column does NOT have is an error
            // (reference BAD_ARGUMENTS/36 —
            // 01493_alter_remove_wrong_default)
            if (Seq("DEFAULT", "MATERIALIZED", "ALIAS").contains(prop) &&
                k != prop)
              throw new IllegalArgumentException(
                s"column $c has no $prop to remove")
            val nm = prop match {
              case "COMMENT" => (k, e, "")
              case "DEFAULT" | "MATERIALIZED" | "ALIAS" => ("", "", cm)
              case _ => (k, e, cm)
            }
            tables(name) = stx.copy(
              meta = stx.meta + (c -> nm),
              defaults =
                if (prop == "COMMENT" || prop == "CODEC" || prop == "TTL")
                  stx.defaults
                else stx.defaults - c,
              hidden = if (prop == "MATERIALIZED" || prop == "ALIAS")
                stx.hidden - c else stx.hidden)
          case None => commentM.findFirstMatchIn(rest) match {
            case Some(cm2) =>
              val c = colName(cm2.group(1))
              val stx = tables(name)
              val (k, e, _) = stx.meta.getOrElse(c, ("", "", ""))
              tables(name) = stx.copy(meta = stx.meta +
                (c -> ((k, e, cm2.group(2).replace("\\'", "'")))))
            case None =>
              // `MODIFY COLUMN c DEFAULT expr` (kind right after the
              // name) changes the default WITHOUT a type change;
              // anything else re-declares the type
              val bareKind = """(?is)^(`[^`]+`|[A-Za-z_][\w.]*)\s+(DEFAULT|MATERIALIZED|ALIAS)\b""".r
                .findFirstMatchIn(rest).isDefined
              parseColDef(rest) match {
                case Some(cd) if tables(name).schema.fieldNames
                    .contains(cd.field.name) =>
                  modifyColumn(name, cd, withType = !bareKind)
                case Some(cd) if ife != null => ()
                case Some(cd) => throw new IllegalArgumentException(
                  s"cannot MODIFY unknown column ${cd.field.name}")
                case None => throw new IllegalArgumentException(
                  s"cannot parse MODIFY COLUMN: $rest")
              }
          }
        }
      case dropPartRe(isId, spec) =>
        val stx = tables(name)
        stx.partitionExprText match {
          case Some(pe) =>
            val pc = chCol(pe)
            // partition ID: Date/DateTime partitions format yyyyMMdd;
            // everything else is the value's text ('all' = everything)
            val idCol =
              if (isId != null)
                coalesce(date_format(pc.cast("timestamp"), "yyyyMMdd"),
                  pc.cast("string"))
              else pc.cast("string")
            val target = spec.trim.stripPrefix("(").stripSuffix(")")
              .stripPrefix("'").stripSuffix("'")
            if (isId != null && target == "all")
              stx.data = stx.data.limit(0)
            else
              stx.data = stx.data.filter(
                !coalesce(idCol === lit(target), lit(false)))
            registerView(name)
          case None =>
            stx.data = stx.data.limit(0)
            registerView(name)
        }
      case _ if up.startsWith("INGEST PARTITION") =>
        ingestPartition(name, cmd)
      case _
        // layout-only commands a temp view cannot observe: accept
        if up.startsWith("MODIFY SETTING") || up.startsWith("RESET SETTING") ||
           up.startsWith("ADD INDEX") || up.startsWith("DROP INDEX") ||
           up.startsWith("CLEAR INDEX") || up.startsWith("MATERIALIZE INDEX") ||
           up.startsWith("ADD PROJECTION") || up.startsWith("DROP PROJECTION") ||
           up.startsWith("MATERIALIZE PROJECTION") ||
           up.startsWith("ADD CONSTRAINT") || up.startsWith("DROP CONSTRAINT") ||
           up.startsWith("MATERIALIZE COLUMN") ||
           up.startsWith("MODIFY TTL") || up.startsWith("REMOVE TTL") ||
           up.startsWith("MODIFY ORDER BY") || up.startsWith("COMMENT ") => ()
      case other => throw new IllegalArgumentException(
        s"unsupported ALTER command: ${other.take(60)}")
    }
  }

  /** ALTER TABLE t INGEST PARTITION 'p' COLUMNS c[,{'mapkey'}…] [KEY k…]
    * FROM src (reference src/Storages/IngestPartition.cpp): within the
    * named partition, rows are matched by KEY (default: the table's
    * ORDER BY). Matched rows take the listed columns from the source
    * (map-key specs overlay only those entries); source-only keys
    * INSERT with non-listed columns at their defaults; target-only
    * rows RESET the listed columns to defaults (listed map entries are
    * removed). With table setting
    * ingest_default_column_value_if_not_provided=0, target-only rows
    * keep their values and source-only keys do not insert.
    */
  private def ingestPartition(name: String, cmd: String): Unit = {
    val st = tables(name)
    val m = ("""(?is)^INGEST\s+PARTITION\s+(ID\s+)?('(?:[^'\\]|\\.)*'|\S+)\s+""" +
      """COLUMNS\s+(.+?)(?:\s+KEY\s+(.+?))?\s+FROM\s+([`\w.]+)""" +
      """(?:\s+BUCKETS\s+([\d,\s]+?))?(?:\s+SETTINGS\s.*)?\s*;?\s*$""").r
      .findFirstMatchIn(cmd).getOrElse(throw new IllegalArgumentException(
        s"cannot parse INGEST PARTITION: ${cmd.take(60)}"))
    // the compact PARTITION ID form spells the value with separators
    // stripped ('20240101' for 2024-01-01)
    val idForm = m.group(1) != null
    val partVal = m.group(2).trim.stripPrefix("'").stripSuffix("'")
    val colSpecRe = """^(`[^`]+`|\w+)\s*(?:\{\s*'([^']*)'\s*\})?$""".r
    val specs = splitTop(m.group(3)).map(_.trim).map {
      case colSpecRe(c, k) =>
        (c.stripPrefix("`").stripSuffix("`"), Option(k))
      case other => throw new IllegalArgumentException(
        s"INGEST PARTITION: bad column spec '$other'")
    }
    val plainCols = specs.filter(_._2.isEmpty).map(_._1).distinct
    val mapCols: Map[String, Seq[String]] = specs
      .collect { case (c, Some(k)) => (c, k) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val keys = Option(m.group(4))
      .map(t => splitTop(t).map(_.trim.stripPrefix("`").stripSuffix("`")))
      // ORDER BY may carry expressions (cityHash64(id)) — join on the
      // plain-column keys only (parseOrderKey gives Nil for mixed
      // keys, so re-extract the plain columns from the DDL text)
      .getOrElse {
        val viaState = st.orderKey.filter(st.schema.fieldNames.contains)
        if (viaState.nonEmpty) viaState
        else {
          val txt = """(?is)\bORDER\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|[^,;\s]+)"""
            .r.findFirstMatchIn(st.createAfter).map(_.group(1).trim)
            .getOrElse("")
          val inner = if (txt.startsWith("("))
            txt.stripPrefix("(").stripSuffix(")") else txt
          splitTop(inner).map(_.trim).filter(p =>
            p.matches("[A-Za-z_]\\w*") && st.schema.fieldNames.contains(p))
        }
      }
    require(keys.nonEmpty, "INGEST PARTITION: no KEY columns")
    val src = tables.getOrElse(resolveTableKey(cleanName(m.group(5))),
      throw new IllegalArgumentException(
        s"INGEST PARTITION: unknown source table ${m.group(5)}"))
    val insertDefaults =
      !"""(?i)ingest_default_column_value_if_not_provided\s*=\s*(0|false)""".r
        .findFirstIn(st.createAfter).isDefined
    val pt = st.partitionExprText.getOrElse(
      throw new IllegalArgumentException(
        "INGEST PARTITION requires a partitioned table"))
    def partText: Column =
      if (idForm)
        regexp_replace(chCol(pt).cast("string"), "[^0-9A-Za-z]", "")
      else chCol(pt).cast("string")
    // BUCKETS n[, m…]: the ingest's scope narrows to the named buckets
    // of the CLUSTER BY hash on BOTH sides (reference
    // CnchBucketTableCommon::createColumnWithSipHash — per-row SipHash
    // of the cluster column's hash stream mod the bucket count: raw LE
    // bytes for integers, LE64 length-with-terminator + bytes + \0 for
    // strings)
    val bucketCond: Option[Column] =
      Option(m.group(6)).map(_.trim).filter(_.nonEmpty).map { bs =>
        val ids = bs.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)
        val cl = ("""(?is)\bCLUSTER\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+)""" +
          """\s+INTO\s+(\d+)\s+BUCKETS""").r
          .findFirstMatchIn(src.createAfter).getOrElse(
            throw new IllegalArgumentException(
              "INGEST PARTITION BUCKETS on a non-bucketed source"))
        val colsTxt = cl.group(1).stripPrefix("(").stripSuffix(")").trim
        require(colsTxt.matches("`?[A-Za-z_]\\w*`?"),
          "INGEST PARTITION BUCKETS: only single-column CLUSTER BY keys")
        val n = cl.group(2).toLong
        val cn = colsTxt.replaceAll("`", "")
        val dt = st.schema(cn).dataType
        val intWidth = dt match {
          case ByteType => 1
          case ShortType => 2
          case IntegerType => 4
          case LongType => 8
          case _ => 0
        }
        val bucketUdf =
          if (intWidth > 0) {
            val w = intWidth
            udf((v: java.lang.Long) => {
              if (v == null) -1L
              else {
                val buf = java.nio.ByteBuffer.allocate(w)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                var i = 0
                var x = v.longValue()
                while (i < w) { buf.put((x & 0xFF).toByte); x >>= 8; i += 1 }
                java.lang.Long.remainderUnsigned(
                  graft.functions.HashOps.sipHash64(buf.array()), n)
              }
            }).apply(col(s"`$cn`").cast("long"))
          } else {
            udf((s: String) => {
              if (s == null) -1L
              else {
                val bytes = s.getBytes("UTF-8")
                val buf = java.nio.ByteBuffer
                  .allocate(8 + bytes.length + 1)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                buf.putLong(bytes.length + 1L).put(bytes).put(0.toByte)
                java.lang.Long.remainderUnsigned(
                  graft.functions.HashOps.sipHash64(buf.array()), n)
              }
            }).apply(col(s"`$cn`").cast("string"))
          }
        bucketUdf.isin(ids.map(_.asInstanceOf[Any]): _*)
      }
    def inScope(df: DataFrame): DataFrame = {
      val p = df.where(partText === lit(partVal))
      bucketCond.map(p.where).getOrElse(p)
    }
    val srcInPart = inScope(src.data)
    // an EMPTY source scope ingests nothing — the whole command is a
    // no-op (00982 'empty source data' keeps the target untouched)
    if (srcInPart.limit(1).count() == 0) return
    val t2 = inScope(st.data).withColumn("__tp", lit(1)).alias("__t")
    val s2 = srcInPart.withColumn("__sp", lit(1)).alias("__s")
    val cond = keys.map(k => col(s"__t.`$k`") <=> col(s"__s.`$k`"))
      .reduce(_ && _)
    // source-only keys insert under BOTH settings (00982/00984's
    // default=0 blocks still insert) — the setting only changes what
    // happens to unmatched TARGET rows
    val joined = t2.join(s2, cond, "full_outer")
    val tp = col("__t.__tp").isNotNull
    val sp = col("__s.__sp").isNotNull
    def defaultOf(c: String): Column = {
      val dt = st.schema(c).dataType
      st.defaults.get(c).map(e => chCol(e).cast(dt))
        .getOrElse(typeDefault(dt))
    }
    val projected = joined.select(st.schema.fields.map { f =>
      val c = f.name
      val tc = col(s"__t.`$c`")
      val out: Column =
        if (keys.contains(c)) coalesce(tc, col(s"__s.`$c`"))
        else if (plainCols.contains(c)) {
          // matched rows take the source value; unmatched target rows
          // RESET to the default under
          // ingest_default_column_value_if_not_provided (the default),
          // and keep their value when it is off (00982)
          val sc = col(s"__s.`$c`")
          when(sp, sc).otherwise(
            if (insertDefaults) defaultOf(c) else tc)
        } else if (mapCols.contains(c)) {
          val listed: Seq[Any] = mapCols(c)
          val sc = col(s"__s.`$c`")
          // base keeps the NON-listed target entries; the overlay is
          // the source's LISTED entries (absent source rows overlay
          // nothing — listed entries are thereby removed/reset); CH
          // map columns keep keys SORTED, so re-sort the merge
          val base = when(tp, map_filter(tc,
            (k, _) => !k.isin(listed: _*))).otherwise(
            map().cast(f.dataType))
          val overlay = when(sp, map_filter(sc,
            (k, _) => k.isin(listed: _*))).otherwise(
            map().cast(f.dataType))
          val merged = map_from_entries(
            sort_array(map_entries(map_concat(base, overlay))))
          if (insertDefaults) merged
          else when(sp, merged).otherwise(tc)
        } else if (st.schema.fieldNames.contains(c) &&
            pt.replaceAll("[`\\s]", "") == c) {
          // the partition column itself: identical on both sides
          coalesce(tc, col(s"__s.`$c`"))
        } else when(tp, tc).otherwise(defaultOf(c))
      out.cast(f.dataType).as(c)
    }: _*)
    val scopeCond = bucketCond match {
      case Some(b) => (partText <=> lit(partVal)) && coalesce(b, lit(false))
      case None => partText <=> lit(partVal)
    }
    val rest = st.data.where(!scopeCond)
    // materialize: the self-referential lineage (st.data on both
    // sides) must not re-evaluate against the REPLACED view
    import scala.jdk.CollectionConverters._
    val rows = projected.collect().toSeq
    val block = spark.createDataFrame(rows.asJava, projected.schema)
    st.data = rest.unionByName(block)
    registerView(name)
  }

  /** Top-level `UPDATE t SET a = e, … WHERE cond [ORDER BY o LIMIT n]`
    * (reference unique-table UPDATE query): applies the assignments to
    * the matching rows — the first n in ORDER BY order when LIMIT is
    * given. Updating a unique-key column is rejected like the
    * reference's serverError 36.
    */
  private def updateStmt(s: String): Unit = {
    val m = updateStmtRe.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"cannot parse UPDATE: ${s.take(60)}"))
    val name = resolveTableKey(cleanName(m.group(1)))
    val st = tables.getOrElse(name,
      throw new IllegalArgumentException(s"UPDATE of unknown table $name"))
    val explicit = splitTop(m.group(2)).map { a =>
      val eq = topLevelEq(a)
      (colName(a.substring(0, eq).trim), a.substring(eq + 1).trim)
    }.toMap
    // MySQL ON UPDATE columns refresh on any UPDATE that does not assign
    // them explicitly (a property of the table, independent of the
    // session dialect at UPDATE time)
    val assigns = explicit ++
      st.onUpdate.view.filterKeys(!explicit.contains(_)).toMap
    assigns.keys.find(st.uniqueKey.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"UPDATE of unique key column $k is not allowed"))
    var tail = m.group(3).trim
    val limitM = """(?is)\s+LIMIT\s+(\d+)\s*$""".r.findFirstMatchIn(tail)
    val limit = limitM.map(_.group(1).toInt)
    limitM.foreach(mm => tail = tail.substring(0, mm.start).trim)
    val orderM = """(?is)\s+ORDER\s+BY\s+(.*)$""".r.findFirstMatchIn(tail)
    val orderText = orderM.map(_.group(1).trim)
    orderM.foreach(mm => tail = tail.substring(0, mm.start).trim)
    val cond = coalesce(chCol(tail).cast("boolean"), lit(false))
    import org.apache.spark.sql.expressions.Window
    val applies: Column = limit match {
      case Some(n) =>
        val orderCols: Seq[Column] = orderText.map(t =>
          splitTop(t).map(o => chCol(o.trim).asc)).getOrElse(Seq(lit(1).asc))
        val w = Window.orderBy((cond.desc +: orderCols): _*)
        cond && row_number().over(w) <= n
      case None => cond
    }
    st.data = st.data
      .withColumn("__upd", applies)
      .select((st.schema.fieldNames.map { fn =>
        assigns.get(fn) match {
          case Some(rhs) => when(col("__upd"),
            chCol(rhs).cast(st.schema(fn).dataType))
            .otherwise(col(s"`$fn`")).as(fn)
          case None => col(s"`$fn`")
        }
      } ++ (if (st.data.columns.contains("__commit"))
        Seq(col("__commit")) else Nil)).toSeq: _*)
    // partial-update tables: an UPDATE whose key (from WHERE equalities)
    // matches no row INSERTS it — SET columns take their values, the
    // rest take defaults (reference UPDATE-as-upsert)
    if ((st.partialEnabled || insertIfNotExists) && limit.isEmpty &&
        tables(name).data.filter(cond).isEmpty) {
      val eqRe = """(?is)^\s*([`\w.]+)\s*=\s*(.+)$\s*""".r
      val eqs = """(?i)\s+AND\s+""".r.split(tail).toSeq.flatMap { t =>
        eqRe.findFirstMatchIn(t.trim).map(mm =>
          colName(mm.group(1)) -> mm.group(2).trim)
      }.toMap
      if (st.uniqueKey.forall(eqs.contains)) {
        val provided = eqs ++ assigns
        val row = spark.range(1).select(st.schema.fields.flatMap { f =>
          provided.get(f.name).map(e =>
            chCol(e).cast(f.dataType).as(f.name))
        }.toSeq: _*)
        appendTo(name, row,
          st.schema.fieldNames.filter(provided.contains).toSeq,
          modeOverride = None, stagingOverride = Some(false),
          forcePartial = true)
      }
    }
    registerView(name)
  }
  private val updateStmtRe =
    """(?is)^\s*UPDATE\s+([`\w.]+)\s+SET\s+(.*?)\s+WHERE\s+(.*)$""".r

  /** `DELETE FROM t WHERE cond` — the mutation spelling. */
  private def deleteStmt(s: String): Unit = {
    val m = """(?is)^\s*DELETE\s+FROM\s+([`\w.]+)\s+WHERE\s+(.*)$""".r
      .findFirstMatchIn(s).getOrElse(
        throw new IllegalArgumentException(s"cannot parse DELETE: ${s.take(60)}"))
    val name = resolveTableKey(cleanName(m.group(1)))
    val st = tables.getOrElse(name,
      throw new IllegalArgumentException(s"DELETE from unknown table $name"))
    st.data = st.data.filter(
      !coalesce(chCol(m.group(2)).cast("boolean"), lit(false)))
    registerView(name)
  }

  private def addColumn(name: String, cd: ColDef,
      pos: Option[String]): Unit = {
    val st = tables(name)
    val f = cd.field
    // existing rows: an explicit DEFAULT/MATERIALIZED expression
    // materializes over the old row; an implicit default stays a NULL
    // marker resolved to the CURRENT type default at view time
    // (TableState.lazyDefault — the reference's lazy part fill)
    val lazyFill = cd.default.isEmpty
    val fill = cd.default.map(chCol)
      .getOrElse(lit(null))
    val withCol = st.data.withColumn(f.name, fill.cast(f.dataType))
    // position: FIRST / AFTER c / append
    val names0 = st.schema.fieldNames.toSeq
    val upPos = pos.map(_.trim.toUpperCase)
    val names =
      if (upPos.contains("FIRST")) f.name +: names0
      else upPos.filter(_.startsWith("AFTER")) match {
        case Some(_) =>
          val after = colName(pos.get.trim.split("\\s+").last)
          val idx = names0.indexOf(after)
          if (idx < 0) names0 :+ f.name
          else (names0.take(idx + 1) :+ f.name) ++ names0.drop(idx + 1)
        case None => names0 :+ f.name
      }
    val newSchema = StructType(names.map(n =>
      if (n == f.name) f else st.schema(n)))
    val newDeclared = names.map(n =>
      if (n == f.name) n -> cd.chType
      else n -> st.declared.find(_._1 == n).map(_._2).getOrElse(""))
    tables(name) = st.copy(
      schema = newSchema,
      declared = newDeclared,
      defaults = st.defaults ++ cd.default.map(f.name -> _),
      hidden = if (cd.hidden) st.hidden + f.name else st.hidden,
      meta = if (cd.kind.nonEmpty || cd.comment.nonEmpty)
        st.meta + (f.name ->
          ((cd.kind, if (cd.kind.nonEmpty) cd.default.getOrElse("") else "",
            cd.comment)))
        else st.meta,
      lazyDefault = if (lazyFill) st.lazyDefault + f.name else st.lazyDefault,
      data = withCol.select(names.map(n => col(s"`$n`")): _*))
    registerView(name)
  }

  private def dropColumn(name: String, c: String): Unit = {
    val st = tables(name)
    tables(name) = st.copy(
      schema = StructType(st.schema.fields.filterNot(_.name == c)),
      declared = st.declared.filterNot(_._1 == c),
      defaults = st.defaults - c,
      hidden = st.hidden - c,
      meta = st.meta - c,
      lazyDefault = st.lazyDefault - c,
      orderKey = st.orderKey.filterNot(_ == c),
      data = st.data.drop(c))
    registerView(name)
  }

  private def renameColumn(name: String, a: String, b: String): Unit = {
    val st = tables(name)
    tables(name) = st.copy(
      schema = StructType(st.schema.fields.map(f =>
        if (f.name == a) f.copy(name = b) else f)),
      declared = st.declared.map { case (n, t) =>
        (if (n == a) b else n) -> t },
      defaults = st.defaults.map { case (n, e) =>
        (if (n == a) b else n) -> e },
      hidden = if (st.hidden(a)) st.hidden - a + b else st.hidden,
      meta = st.meta.map { case (n, v) => (if (n == a) b else n) -> v },
      lazyDefault = if (st.lazyDefault(a)) st.lazyDefault - a + b
        else st.lazyDefault,
      orderKey = st.orderKey.map(k => if (k == a) b else k),
      data = st.data.withColumnRenamed(a, b))
    registerView(name)
  }

  private def modifyColumn(name: String, cd: ColDef,
      withType: Boolean = true): Unit = {
    val st = tables(name)
    val c = cd.field.name
    val newField = if (withType) cd.field else st.schema(c)
    val newCh =
      if (withType) cd.chType
      else st.declared.find(_._1 == c).map(_._2).getOrElse(cd.chType)
    val oldMeta = st.meta.getOrElse(c, ("", "", ""))
    tables(name) = st.copy(
      schema = StructType(st.schema.fields.map(f =>
        if (f.name == c) newField else f)),
      declared = st.declared.map { case (n, t) =>
        n -> (if (n == c) newCh else t) },
      defaults = cd.kind match {
        case "" => st.defaults
        case _ => st.defaults ++ cd.default.map(c -> _)
      },
      hidden = cd.kind match {
        case "MATERIALIZED" | "ALIAS" => st.hidden + c
        case "DEFAULT" => st.hidden - c
        case _ => st.hidden
      },
      meta = st.meta + (c -> ((
        if (cd.kind.nonEmpty) cd.kind else oldMeta._1,
        if (cd.kind.nonEmpty) cd.default.getOrElse("") else oldMeta._2,
        if (cd.comment.nonEmpty) cd.comment else oldMeta._3))),
      data = st.data.withColumn(c, {
        // conversion to a Nullable scalar NULLs unparseable values
        // (reference parseValue with null fallback — 00665 converts ''
        // to NULL, an ANSI cast would refuse)
        val nullableScalar = """(?is)^Nullable\(\s*(\w+)\s*\)$""".r
        newCh.trim match {
          case nullableScalar(t) if Set("Int8", "Int16", "Int32", "Int64",
              "UInt8", "UInt16", "UInt32", "UInt64", "Float32", "Float64",
              "Date", "Date32", "DateTime", "DateTime64").contains(t) =>
            chCol(s"to${t}OrNull(`$c`)")
          case _ => col(s"`$c`").cast(newField.dataType)
        }
      }))
    registerView(name)
  }

  private def typeDefault(dt: DataType): Column = dt match {
    case st: StructType if st.fieldNames.sameElements(Array("__time")) =>
      struct(lit("00:00:00.000").as("__time"))
    case _: NumericType => lit(0).cast(dt)
    case StringType => lit("")
    case BooleanType => lit(false)
    case DateType => lit(java.sql.Date.valueOf("1970-01-01"))
    case TimestampType => lit(java.sql.Timestamp.from(java.time.Instant.EPOCH))
    case a: ArrayType => array().cast(a)
    case m: MapType => map().cast(m)
    case other => lit(null).cast(other)
  }
}

object ChSession {
  import ChLex.{matchParen, splitTop}
  sealed trait Result
  case object Done extends Result
  case object NotHandled extends Result
  final case class Output(rows: Seq[Row]) extends Result

  private val dropRe =
    """(?is)\s*DROP\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?([`\w.]+).*""".r
  private val truncateRe =
    """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?(?:IF\s+EXISTS\s+)?([`\w.]+)\s*""".r
  // LIVE VIEW (reference src/Storages/LiveView/StorageLiveView.cpp):
  // a continuously-refreshed view — the temp-view model re-evaluates
  // per query by construction, so the DDL maps onto a plain view (the
  // push/watch machinery lives in streaming/LiveView.scala)
  private val createViewRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:LIVE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([`\w.]+)\s+AS\s+(.*)""".r
  // the middle lazily skips an optional column list / ENGINE clause
  // (the list may contain nested parens — anchor on `AS SELECT`)
  private val createMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([`\w.]+)\s+TO\s+([`\w.]+).*?\bAS\s+((?:SELECT|WITH)\b.*)""".r
  private val mvBaseRe = """(?is)\bFROM\s+([`\w.]+)""".r
  private val createTableRe =
    """(?is)\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`\w.]+)\s*(.*)""".r
  private val insertRe =
    """(?is)\s*INSERT\s+(IGNORE\s+)?INTO\s+(?:TABLE\s+)?([`\w.]+)\s*(.*)""".r
  private val descRe =
    """(?is)\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([`\w.]+)\s*""".r
  // MySQL allows CTAS without AS (`create table t select ...`) and
  // structure clones spelled LIKE (`create table t like src`)
  private val ctasRe = """(?is)(?:ENGINE[^;]*?)?\b(?:AS\s+)?((?:SELECT|WITH)\b.*)""".r
  private val cloneRe = """(?is)\s*(?:AS|LIKE)\s+([`\w.]+)\s*(?:ENGINE.*)?""".r
  private val skipDefRe =
    """(?i)^\s*(INDEX|CONSTRAINT|PRIMARY\s+KEY|PROJECTION)\b""".r
  private val colDefRe = """(?s)^(`[^`]+`|[A-Za-z_][\w.]*)\s+(.+)$""".r
  private val alterRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)(?:\s+ON\s+CLUSTER\s+\S+)?\s+(.*)""".r
  private val alterKwRe =
    """(?is)^(ADD|DROP|MODIFY|RENAME|CLEAR|COMMENT|UPDATE|DELETE|RESET|MATERIALIZE|REMOVE|ATTACH|DETACH|FREEZE|MOVE|REPLACE|FETCH|INGEST)\b""".r
  private val addColRe =
    """(?is)^ADD\s+(?:COLUMN\s+)?(IF\s+NOT\s+EXISTS\s+)?(.*?)(?:\s+(FIRST|AFTER\s+[`\w.]+))?\s*$""".r
  private val dropColRe =
    """(?is)^DROP\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?([`\w.]+)\s*$""".r
  private val renameColRe =
    """(?is)^RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?([`\w.]+)\s+TO\s+([`\w.]+)\s*$""".r
  private val commentColRe =
    """(?is)^COMMENT\s+COLUMN\s+(IF\s+EXISTS\s+)?([`\w.]+)\s+'((?:[^'\\]|\\.)*)'\s*$""".r
  private val clearColRe =
    """(?is)^CLEAR\s+COLUMN\s+(IF\s+EXISTS\s+)?([`\w.]+)(?:\s+IN\s+PARTITION\s+.*)?\s*$""".r
  private val updateRe =
    """(?is)^UPDATE\s+(.*?)\s+WHERE\s+(.*)$""".r
  private val deleteRe =
    """(?is)^DELETE\s+WHERE\s+(.*)$""".r
  private val dropPartRe =
    """(?is)^(?:DROP|DETACH)\s+PARTITION\s+(id\s+)?('[^']*'|\([^)]*\)|\S+)\s*$""".r
  private val modifyColRe =
    """(?is)^MODIFY\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?(.*)$""".r
  private val modifierRe =
    """(?i)\b(DEFAULT|MATERIALIZED|ALIAS|CODEC|TTL|COMMENT)\b""".r

  /** `db.name` → `name` (the corpus uses a per-test database the way we
    * use a per-file ChSession; the qualifier carries no information),
    * backticks stripped.
    */
  /** Column-name cleaner: backticks only — a dot is part of a
    * flattened Nested column's name (`NestedColumn.A`), never a db
    * qualifier.
    */
  def colName(raw: String): String =
    raw.trim.stripPrefix("`").stripSuffix("`")

  def cleanName(raw: String): String = {
    val n = raw.trim.stripPrefix("`").stripSuffix("`")
    val dot = n.lastIndexOf('.')
    if (dot >= 0) n.substring(dot + 1) else n
  }

  /** Strip database qualifiers inside a query so references resolve
    * against the session's temp views: `test.` / `default.` anywhere
    * (the corpus's standard databases), and ANY `db.` directly after a
    * FROM/JOIN/INTO/TABLE keyword (tests that create their own scratch
    * database). Quote-aware: string literals pass through untouched.
    */
  def stripDbRefs(sql0: String): String = {
    // ALTER … RENAME must keep db qualifiers: the session reproduces the
    // reference's cross-database-rename refusal (error 48), which is
    // only observable from the raw spelling
    if ("""(?is)^\s*ALTER\s+TABLE\b.*\bRENAME\b""".r
        .findFirstIn(sql0).isDefined)
      return sql0
    // plain CREATE TABLE keeps its qualifier too: createTable extracts
    // rawDb from it (stats scoping and SHOW CREATE print the declared
    // database). CTAS still strips — its SELECT runs through spark.sql.
    if ("""(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\b""".r
        .findFirstIn(sql0).isDefined &&
        !"""(?i)\bSELECT\b""".r.findFirstIn(sql0).isDefined)
      return sql0
    val sql = stripDbAfterKeywords(sql0)
    import ChLex.{Comment, Num, Punct, Tok, Word, Ws}
    val ts = ChLex.tokenize(sql, comments = true)
    val off = ChLex.offsets(ts)
    def at(k: Int) = ts.lift(k)
    def unquoted(t: Tok) = t match { case Word(w) => !"`\"".contains(w.head); case _ => false }
    // a name starts where no identifier character touches it
    def nameAt(k: Int) = !at(k - 1).exists {
      case Word(_) | Num(_) | Punct(".") => true; case _ => false }
    // whitespace and block comments may sit around the dot of
    // `system . one` (00269_database_table_whitespace)
    def skipGap(k: Int): Int = at(k) match {
      case Some(Ws(_)) => skipGap(k + 1)
      case Some(Comment(c)) if c.startsWith("/*") && c.endsWith("*/") => skipGap(k + 1)
      case _ => k
    }
    def spells(k: Int, w: String) = at(k).exists(t => t.text == w || t.text == s"`$w`")
    // `system.one` / `system.numbers[_mt]`: the reference's modeled
    // system tables (`one`: a single row of dummy UInt8 = 0; `numbers`:
    // the number stream, registered as a bounded view) — index past the
    // table name and its temp-view name
    def sysTable(k: Int): Option[(Int, String)] =
      if (!spells(k, "system") || !nameAt(k)) None
      else {
        val dot = skipGap(k + 1)
        val name = skipGap(dot + 1)
        val tail = at(name + 1).exists(t => unquoted(t) ||
          t.isInstanceOf[Num] || t == Punct("."))
        if (at(dot).contains(Punct(".")) && !tail)
          Seq("one" -> "one", "numbers_mt" -> "numbers", "numbers" -> "numbers")
            .collectFirst { case (spelled, view) if spells(name, spelled) =>
              (name + 1, view) }
        else None
      }
    // `test.` / `default.` before a table name
    def dbQualifier(k: Int) = at(k).exists(t => unquoted(t) &&
        (t.text == "test" || t.text == "default")) && nameAt(k) &&
      at(k + 1).contains(Punct(".")) && at(k + 2).exists {
        case Word(w) => w.head.isLetter || w.head == '_' || w.head == '`'
        case _ => false }
    val sb = new StringBuilder
    var k = 0
    while (k < ts.length) {
      sysTable(k) match {
        case Some((end, view)) => sb.append(view); k = end
        case None if dbQualifier(k) => k += 2
        case None => sb.append(sql.substring(off(k), off(k + 1))); k += 1
      }
    }
    sb.toString
  }

  private val dbAfterKwRe =
    """(?i)\b(?:(ARRAY)\s+)?(FROM|JOIN|INTO|TABLE|VIEW)\s+(?:`[^`]+`|"[^"]+"|\w+)\.(?=[`"A-Za-z_])""".r

  /** `FROM db.tbl` → `FROM tbl` for any db name (quote-aware enough:
    * these keywords cannot appear inside a string literal followed by a
    * dotted identifier in the corpus's shapes). `ARRAY JOIN nest.x` is
    * NOT a db qualifier — the dotted name is a flattened Nested column
    * (00014) and must survive for ChTranspiler.rewriteNestedCols.
    */
  private def stripDbAfterKeywords(sql: String): String =
    dbAfterKwRe.replaceAllIn(sql, m =>
      if (m.group(1) != null)
        java.util.regex.Matcher.quoteReplacement(m.group(0))
      else m.group(2) + " ")

  /** MergeTree sorting key: only plain column names are honored (an
    * expression key would need evaluate-then-drop; corpus tables nearly
    * always key on columns). `tuple()` = unsorted.
    */
  def parseOrderKey(after: String): Seq[String] = {
    val m = orderByRe.findFirstMatchIn(after).getOrElse(return Nil)
    val keyText0 = m.group(1).trim
    val keyText =
      if (keyText0.startsWith("(")) matchParen(keyText0)._1 else keyText0
    if (keyText.trim.isEmpty || keyText0.startsWith("tuple()")) Nil
    else {
      val parts = splitTop(keyText).map(_.trim)
      if (parts.forall(p => p.matches("[A-Za-z_]\\w*"))) parts else Nil
    }
  }
  /** `UNIQUE KEY id` / `UNIQUE KEY (d, id)` — plain column names only
    * (an expression key falls back to no dedup, and the corpus's
    * expression-key tests are error-expectation cases anyway).
    */
  def parseUniqueKey(after: String): Seq[String] = {
    val m = uniqueKeyRe.findFirstMatchIn(after).getOrElse(return Nil)
    val t0 = m.group(1).trim
    val t = if (t0.startsWith("(")) matchParen(t0)._1 else t0
    val parts = splitTop(t).map(_.trim)
    if (parts.nonEmpty && parts.forall(_.matches("[A-Za-z_]\\w*"))) parts
    else Nil
  }
  private val uniqueKeyRe =
    """(?is)\bUNIQUE\s+KEY\s+(\([^)]*\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|ORDER\s+BY|CLUSTER\s+BY|$)""".r

  /** The raw PARTITION BY expression text (scopes partition-level
    * unique keys).
    */
  def parsePartitionExpr(after: String): Option[String] = {
    val m = partitionByRe.findFirstMatchIn(after).getOrElse(return None)
    val t = m.group(1).trim
    if (t.isEmpty || t == "tuple()") None else Some(t)
  }
  private val partitionByRe =
    """(?is)\bPARTITION\s+BY\s+(\([^)]*\)|[^;]*?)\s*(?:ORDER\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r

  private val orderByRe =
    """(?is)\bORDER\s+BY\s+(\([^)]*\)|tuple\(\)|[^;]*?)\s*(?:PARTITION\s+BY|PRIMARY\s+KEY|SAMPLE\s+BY|SETTINGS|TTL|UNIQUE\s+KEY|CLUSTER\s+BY|$)""".r

  /** Best-effort reverse map for DESCRIBE of CTAS tables. */
  def sparkToCh(dt: DataType): String = dt match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "String"
    case BooleanType => "UInt8"
    case DateType => "Date"
    case TimestampType => "DateTime"
    case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
    case a: ArrayType => s"Array(${sparkToCh(a.elementType)})"
    case m: MapType => s"Map(${sparkToCh(m.keyType)}, ${sparkToCh(m.valueType)})"
    case st: StructType =>
      st.fields.map(f => s"${f.name} ${sparkToCh(f.dataType)}")
        .mkString("Tuple(", ", ", ")")
    case other => other.simpleString
  }
}

/** ClickHouse type text → Spark type. Widths follow the dialect
  * registry's conversion matrix (ChTranspiler.chType): unsigned types
  * widen one step so their full value range fits a signed Spark type
  * (UInt32 → LongType); UInt64 maps to LongType best-effort — corpus
  * values above 2^63 only appear in hash-function tests, which pin
  * exact unsigned text through the bit-exact hash family instead.
  */
object ChTypes {

  /** ClickHouse DataTypeDecimalBase bounds (reference
    * DataTypesDecimal.cpp ARGUMENT_OUT_OF_BOUND, error 69): precision
    * must be 1..76 and the scale within [0, precision]. Spark's Decimal
    * caps at 38 — wider declarations are rejected as unsupported rather
    * than silently truncated.
    */
  private def decimalChecked(p: Int, s: Int): DecimalType = {
    if (p < 1 || s < 0 || s > p)
      throw new IllegalArgumentException(
        s"Decimal($p, $s) out of bounds: precision in [1, 76], scale in [0, precision]")
    if (p > 38)
      throw new IllegalArgumentException(
        s"Decimal($p, $s): precision above 38 is not supported")
    DecimalType(p, s)
  }

  /** CH Time marker struct (graft.functions.TimeOps). */
  val timeStruct: StructType =
    StructType(Seq(StructField("__time", StringType, nullable = false)))

  /** MySQL-alias type text -> the CH canonical spelling the reference
    * prints in DESCRIBE/SHOW CREATE (DataTypeFactory MySQL domain).
    * Exact CH spellings (`DateTime`, `Int32`) stay; display-width args
    * on integer types are dropped; composites recurse.
    */
  def canonicalMySql(t0: String): String = {
    val t = t0.trim
    val paren = t.indexOf('(')
    val head = (if (paren < 0) t else t.substring(0, paren)).trim
    lazy val args: Seq[String] =
      ChLex.splitTop(t.substring(paren + 1, t.lastIndexOf(')')))
        .map(_.trim)
    if (head == "DateTime" || head == "DateTime64") return t
    head.toUpperCase match {
      case "NULLABLE" => s"Nullable(${canonicalMySql(args.head)})"
      case "LOWCARDINALITY" => canonicalMySql(args.head)
      case "ARRAY" => s"Array(${canonicalMySql(args.head)})"
      case "MAP" =>
        s"Map(${canonicalMySql(args.head)}, ${canonicalMySql(args(1))})"
      case "TINYINT" | "INT8" => "Int8"
      case "SMALLINT" | "INT16" => "Int16"
      case "INT" | "INTEGER" | "MEDIUMINT" | "INT32" => "Int32"
      case "BIGINT" | "INT64" => "Int64"
      case "FLOAT" | "REAL" | "FLOAT32" => "Float32"
      case "DOUBLE" | "FLOAT64" => "Float64"
      case "DECIMAL" | "DEC" | "NUMERIC" | "FIXED" =>
        if (paren > 0 && args.length > 1)
          s"Decimal(${args.head}, ${args(1)})"
        else if (paren > 0) s"Decimal(${args.head}, 0)"
        else "Decimal(10, 0)"
      case "VARCHAR" | "CHAR" | "TEXT" | "TINYTEXT" | "MEDIUMTEXT" |
           "LONGTEXT" | "BLOB" | "TINYBLOB" | "MEDIUMBLOB" |
           "LONGBLOB" | "BINARY" | "VARBINARY" | "NCHAR" |
           "NVARCHAR" | "CLOB" | "STRING" => "String"
      case "DATETIME" | "TIMESTAMP" => "DateTime64(3)"
      case "DATE" => "Date"
      case "BOOL" | "BOOLEAN" => "Bool"
      case "UINT8" => "UInt8"
      case "UINT16" => "UInt16"
      case "UINT32" => "UInt32"
      case "UINT64" => "UInt64"
      case _ => t0
    }
  }

  /** (spark type, declared-Nullable). */
  def parse(t: String): (DataType, Boolean) = {
    val s = t.trim
    val paren = s.indexOf('(')
    val head = (if (paren < 0) s else s.substring(0, paren)).trim
    lazy val args: Seq[String] =
      ChLex.splitTop(s.substring(paren + 1, s.lastIndexOf(')')))
        .map(_.trim)
    head match {
      case "Nullable" => (parse(args.head)._1, true)
      case "LowCardinality" => parse(args.head)
      case "Array" =>
        val (inner, n) = parse(args.head)
        (ArrayType(inner, containsNull = n), false)
      case "Map" =>
        val (v, vn) = parse(args(1))
        (MapType(parse(args.head)._1, v, valueContainsNull = vn), false)
      case "Tuple" =>
        val fields = args.zipWithIndex.map { case (a, i) =>
          a match {
            case namedFieldRe(n, ft) =>
              StructField(ChSession.cleanName(n), parse(ft)._1, nullable = true)
            case _ =>
              StructField(s"_${i + 1}", parse(a)._1, nullable = true)
          }
        }
        (StructType(fields), false)
      case "Decimal" =>
        (decimalChecked(args.head.toInt, args(1).toInt), false)
      case "Decimal32" => (decimalChecked(9, args.head.toInt), false)
      case "Decimal64" => (decimalChecked(18, args.head.toInt), false)
      case "Decimal128" => (decimalChecked(38, args.head.toInt), false)
      case "SimpleAggregateFunction" => parse(args(1))
      case "BitMap64" => (BinaryType, false)
      // reference Statistics/DataSketchesHelper.h — an opaque sketch
      // blob column type (48044 declares Nullable(SketchBinary))
      case "SketchBinary" => (BinaryType, false)
      // value-model state column (see ClickHouseAliases.stateMergeWave):
      // the stored "state" is the mergeable value the -State spelling
      // produces for that base function
      case "AggregateFunction" =>
        val fn = args.head.takeWhile(_ != '(').trim.toLowerCase
        lazy val inner = if (args.length > 1) parse(args(1))._1 else DoubleType
        fn match {
          case "count" => (LongType, false)
          case "sum" => inner match {
            case ByteType | ShortType | IntegerType | LongType => (LongType, false)
            case FloatType | DoubleType => (DoubleType, false)
            case d: DecimalType =>
              (DecimalType(math.min(38, d.precision + 10), d.scale), false)
            case other => (other, false)
          }
          case "min" | "max" | "any" | "anylast" => (inner, false)
          case "avg" => (StructType(Seq(
            StructField("s", DoubleType), StructField("c", LongType))), false)
          case "uniq" | "uniqexact" | "uniqcombined" | "grouparray" |
               "groupuniqarray" => (ArrayType(inner), false)
          case "groupbitmap" => (BinaryType, false)
          case other =>
            throw new IllegalArgumentException(
              s"unsupported AggregateFunction state: $other")
        }
      case "FixedString" | "String" | "UUID" | "IPv4" | "IPv6" |
           "Enum" | "Enum8" | "Enum16" | "JSON" | "Object" =>
        (StringType, false)
      case "Date" | "Date32" => (DateType, false)
      case "DateTime" | "DateTime32" | "DateTime64" => (TimestampType, false)
      case "Bool" | "Boolean" => (BooleanType, false)
      case "Int8" => (ByteType, false)
      case "Int16" => (ShortType, false)
      case "Int32" => (IntegerType, false)
      case "Int64" | "UInt32" | "UInt64" => (LongType, false)
      case "UInt8" => (ShortType, false)
      case "UInt16" => (IntegerType, false)
      case "Int128" | "UInt128" | "Int256" | "UInt256" =>
        (DecimalType(38, 0), false)
      case "Float32" => (FloatType, false)
      case "Float64" => (DoubleType, false)
      // legacy LowCardinality spelling: `StringWithDictionary`,
      // `UInt8WithDictionary`, … (reference DataTypeLowCardinality
      // registers TWithDictionary aliases; 00688 uses them)
      case h if h.endsWith("WithDictionary") && h.length > 14 =>
        parse(h.dropRight(14))
      case other =>
        // standard-SQL aliases (case-insensitive, reference
        // registerDataTypeDomains in DataTypeFactory.cpp)
        other.toUpperCase match {
          case "TINYINT" => (ByteType, false)
          case "SMALLINT" => (ShortType, false)
          case "INT" | "INTEGER" | "MEDIUMINT" => (IntegerType, false)
          case "BIGINT" => (LongType, false)
          case "FLOAT" | "REAL" => (FloatType, false)
          case "DOUBLE" => (DoubleType, false)
          case "DECIMAL" | "DEC" | "NUMERIC" | "FIXED" =>
            if (paren > 0) {
              val a = args
              (decimalChecked(a.head.toInt,
                if (a.length > 1) a(1).toInt else 0), false)
            } else (DecimalType(10, 0), false)
          case "VARCHAR" | "CHAR" | "TEXT" | "TINYTEXT" | "MEDIUMTEXT" |
               "LONGTEXT" | "BLOB" | "TINYBLOB" | "MEDIUMBLOB" |
               "LONGBLOB" | "BINARY" | "VARBINARY" | "NCHAR" |
               "NVARCHAR" | "CLOB" => (StringType, false)
          case "TIMESTAMP" | "DATETIME" => (TimestampType, false)
          case "DATE" => (DateType, false)
          case "BOOL" | "BOOLEAN" => (BooleanType, false)
          // MySQL-dialect spellings (reference registerDataTypeMySql);
          // TIME is the engine's {__time: text} marker struct (TimeOps)
          case "TIME" => (ChTypes.timeStruct, false)
          case "SIGNED" | "UNSIGNED" => (LongType, false)
          // case-insensitive composite spellings (60106 writes ARRAy /
          // maP); delegate to the case-sensitive CH forms
          case "ARRAY" if paren > 0 =>
            val (et, en) = parse(args.head)
            (ArrayType(et, containsNull = en), false)
          case "MAP" if paren > 0 =>
            val (v, vn) = parse(args(1))
            (MapType(parse(args.head)._1, v, valueContainsNull = vn), false)
          case "ENUM" => (StringType, false)
          case _ =>
            throw new IllegalArgumentException(s"unsupported CH type: $other")
        }
    }
  }

  private val namedFieldRe = """(?s)^(`[^`]+`|[A-Za-z_]\w*)\s+(\S.*)$""".r
}
