package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.ColumnBridge
import graft.aggregates.{BitmapAggregates => B, ForEachAgg, SketchAggregates}
import graft.functions.{FloatDotProduct, GeoFunctions, H3Functions, HyperplaneLshBucket}
import graft.plans.{AsofJoinRewrite, AsofLE}

/** SparkSessionExtensions injection point, and the only way the engine's
  * SQL functions and logical rewrite rules reach a session: every
  * session [[Engine.session]] builds, every corpus session, and any
  * session started with `--conf spark.sql.extensions=graft.GraftExtensions`
  * — the deployment path where the engine is a library on a shared
  * cluster and sessions are not built through [[Engine.session]]. Spark
  * applies the extension to each new session, `newSession()` children
  * included, so no session needs a second registration step: one
  * function factory per process, as in the reference
  * (src/Functions/registerFunctions.cpp:31,
  * src/AggregateFunctions/AggregateFunctionFactory.h:52).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    graft.sql.ClickHouseAliases.injectTableFunctions(ext)
    ext.injectOptimizerRule(_ => AsofJoinRewrite)
    // Transparent MV rewrite: aggregates over a base table roll up from
    // registered pre-aggregated parquet views instead (plans/
    // MaterializedViewRewrite.scala) — no-op until an MV is registered.
    ext.injectOptimizerRule(_ => graft.plans.MaterializedViewRewrite)
    // ClickHouse arithmetic/logic coercions (DateTime ± int, numeric
    // AND/OR/WHERE, boolean sums) — fires only on trees Spark's own
    // coercion would reject.
    ext.injectResolutionRule(_ => graft.sql.ChCoercions)
    // join_use_nulls=0 outer-join padding (flag-gated; off by default)
    ext.injectPostHocResolutionRule(_ => graft.sql.ChJoinDefaults)
    // CH decimal container guard on constant comparisons (corpus-gated;
    // post-folding so lateral select aliases have inlined)
    ext.injectOptimizerRule(_ => graft.sql.ChDecimalCompareGuard)
    // ROLLUP/CUBE sub-total keys as type defaults (flag-gated; off by
    // default)
    ext.injectOptimizerRule(_ => graft.sql.ChRollupDefaults)
    // A file scan read as one split plans as one partition, so no
    // exchange goes above it (plans/SingleSplitScan.scala).
    ext.injectPlannerStrategy(_ => graft.plans.SingleSplitScan)
  }
}

object GraftExtensions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def function(name: String, className: String,
                       builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(className, name), builder)

  /** Native Catalyst expressions. */
  private val native: Seq[FunctionDescription] = Seq(
    function("float_dot_product", classOf[FloatDotProduct].getName,
      children => FloatDotProduct(children(0), children(1))),
    function("hyperplane_lsh_bucket", classOf[HyperplaneLshBucket].getName, {
      case Seq(v, p) => HyperplaneLshBucket(v, p.eval().asInstanceOf[Number].intValue())
    }),
    // ASOF join surface: JOIN ... ON l.k = r.k AND asof_le(r.ts, l.ts);
    // the marker is unevaluable and MUST be consumed by AsofJoinRewrite.
    function("asof_le", classOf[AsofLE].getName,
      children => AsofLE(children(0), children(1))))

  /** The engine's Scala udfs and udafs, by SQL name. Each builds what a
    * session-registered udf of that name would ([[ColumnBridge.udfBuilder]]).
    */
  private[graft] val udfs: Seq[FunctionDescription] = Seq[(String, UserDefinedFunction)](
    "minMap" -> aggregates.MinMap(),
    "maxMap" -> aggregates.MaxMap(),
    "sumForEach" -> ForEachAgg.sumForEach,
    "avgForEach" -> ForEachAgg.avgForEach,
    "minForEach" -> ForEachAgg.minForEach,
    "maxForEach" -> ForEachAgg.maxForEach,
    "countForEach" -> ForEachAgg.countForEach,
    "group_bitmap" -> B.groupBitmap,
    "bitmap_cardinality" -> B.bitmapCardinality,
    "bitmap_and_cardinality" -> B.bitmapAndCardinality,
    "bitmap_or_cardinality" -> B.bitmapOrCardinality,
    // bitmapFromColumn (AggregateFunctionBitmapFromColumn.cpp) is the
    // reference's name for the int-column → BitMap64 build; same
    // aggregate as group_bitmap.
    "bitmapFromColumn" -> B.groupBitmap,
    // camelCase spellings (reference FunctionsBitmap.h registrations) —
    // the corpus tests use these names directly
    "bitmapCardinality" -> B.bitmapCardinality,
    "bitmapAndCardinality" -> B.bitmapAndCardinality,
    "bitmapOrCardinality" -> B.bitmapOrCardinality,
    "bitmapAndnotCardinality" -> B.bitmapAndnotCardinality,
    "bitmapColumnOr" -> B.bitmapColumnOr,
    "bitmapColumnAnd" -> B.bitmapColumnAnd,
    "bitmapColumnXor" -> B.bitmapColumnXor,
    "bitmapColumnCardinality" -> B.bitmapColumnCardinality,
    "bitmapColumnHas" -> B.bitmapColumnHas,
    // bitmap value algebra (FunctionsBitmap.h scalar surface)
    "bitmapContains" -> B.bitmapContains,
    "bitmapHasAll" -> B.bitmapHasAll,
    "bitmapHasAny" -> B.bitmapHasAny,
    "subBitmap" -> B.subBitmap,
    "bitmapMin" -> B.bitmapMin,
    "bitmapMax" -> B.bitmapMax,
    "bitmapSubsetInRange" -> B.bitmapSubsetInRange,
    "bitmapSubsetLimit" -> B.bitmapSubsetLimit,
    "bitmapTransform" -> B.bitmapTransform,
    "bitmapAnd" -> B.bitmapAnd,
    "bitmapOr" -> B.bitmapOr,
    "bitmapXor" -> B.bitmapXor,
    "bitmapAndnot" -> B.bitmapAndnot,
    "bitmapXorCardinality" -> B.bitmapXorCardinality,
    "bitmapBuild" -> B.bitmapBuild,
    "bitmapToArray" -> B.bitmapToArray,
    // scalar array → bitmap bytes: BitMap64 column INSERT path (the
    // reference's BitMap64 accepts Array literals on ingest)
    "arrayToBitmap" -> udf((xs: Seq[Long]) => {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      if (xs != null) xs.foreach(bm.addLong)
      B.serialize(bm)
    }),
    // geohash SQL spellings (geohashEncode is a ClickHouseAliases
    // spelling): decode returns the (lon, lat) tuple — field names
    // col1/col2 so CH `.1`/`.2` access resolves
    "geohashDecode" -> udf((h: String) => {
      val (lat, lon) = GeoFunctions.decode(h)
      GeoPoint(lon, lat)
    }),
    "geohashesInBox" -> udf(GeoFunctions.geohashesInBox _),
    // H3 hex-grid index family (public H3 index spec bit math —
    // functions/H3Functions.scala; corpus 01070_h3_*)
    "h3GetResolution" -> udf((h: Long) => H3Functions.resolution(h)),
    "h3GetBaseCell" -> udf((h: Long) => H3Functions.baseCell(h)),
    "h3ToParent" -> udf(H3Functions.toParent _),
    "h3ToChildren" -> udf(H3Functions.toChildren _),
    "h3HexAreaM2" -> udf(H3Functions.hexAreaM2 _),
    "h3IndexesAreNeighbors" -> udf(H3Functions.indexesAreNeighbors _),
    "h3ToString" -> udf(H3Functions.toHexString _),
    "stringToH3" -> udf(H3Functions.fromHexString _),
    "h3EdgeLengthM" -> udf(H3Functions.edgeLengthM _),
    "h3EdgeAngle" -> udf(H3Functions.edgeAngle _),
    "h3IsValid" -> udf(H3Functions.isValid _),
    "h3kRing" -> udf((h: Long, k: Int) => H3Functions.kRing(h, k)),
    // uniqTheta set-op scalars (FunctionsUniqTheta.h)
    "uniqThetaUnion" -> SketchAggregates.uniqThetaUnion,
    "uniqThetaIntersect" -> SketchAggregates.uniqThetaIntersect,
    "uniqThetaNot" -> SketchAggregates.uniqThetaNot,
    "thetaSketchToEstimate" -> SketchAggregates.thetaEstimate
  ).map { case (name, f) =>
    function(name, f.getClass.getName, ColumnBridge.udfBuilder(name, f))
  }

  /** Every SQL function the extension injects: the native expressions,
    * the udfs and the ClickHouse-dialect spellings, one entry per name
    * (`FunctionRegistrySpec` checks the names are unique).
    */
  val functions: Seq[FunctionDescription] = native ++ udfs ++ graft.sql.ClickHouseAliases.functions
}
