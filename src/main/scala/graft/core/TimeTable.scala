package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** Time-first-class table layout — the reference's core data model
  * (daisy: `_time DateTime64(3)` auto-column, default PARTITION BY /
  * ORDER BY are granularity functions of `_time` —
  * `src/Server/RestRouterHandlers/TabularTableRestRouterHandler.cpp:15-31`,
  * `src/Interpreters/AddTimeParamVisitor.cpp`).
  *
  * Spark mapping: parquet tables partitioned by a derived time-bucket
  * directory column, `_time_bucket` = [[bucket]] of `_time`, always
  * computed in UTC so the bucket a row is written to never depends on
  * the writing or reading session's time zone. A read made with the
  * [[UnitOption]] reader option (every REST catalog read, and
  * [[readBounded]]) is pruned by [[PruneBuckets]]: each top-level
  * `_time` comparison with a constant gains the `_time_bucket` bound it
  * implies, which Hive-style partition pruning applies to the directory
  * listing before any file is opened (the reference's MergeTree part
  * pruning by the `_time` partition key,
  * `MergeTreeDataSelectExecutor.cpp:495-565`). Rows are sorted within
  * partitions on the ORDER BY key (parquet row-group min/max stats then
  * prune within files — the analogue of the reference's primary-key
  * index).
  *
  * At 100 TB this is the difference between touching ~hours of data and
  * touching everything: pruning is directory-listing-time, not scan-time.
  */
object TimeTable {

  /** Supported partition granularities (daisy partition_by_granularity:
    * M/D/H — TabularTableRestRouterHandler.cpp). */
  sealed trait Granularity { def truncUnit: String }
  case object Hourly extends Granularity { val truncUnit = "hour" }
  case object Daily extends Granularity { val truncUnit = "day" }
  case object Monthly extends Granularity { val truncUnit = "month" }

  val BucketCol = "_time_bucket"

  /** Reader option naming the bucket's truncation unit (`hour`, `day`,
    * `month`): set on a read of a bucketed table, it lets [[PruneBuckets]]
    * derive `_time_bucket` bounds for the scan. */
  val UnitOption = "timeBucketUnit"

  private val Format = "yyyy-MM-dd-HH"

  /** The bucket of timestamp `t`: `t` truncated to `unit` and formatted
    * `yyyy-MM-dd-HH`, both in UTC. The string sorts as the time it
    * names for years 1-9999. */
  def bucketExpr(unit: Expression, t: Expression): Expression =
    DateFormatClass(TruncTimestamp(unit, t, Some("UTC")),
      Literal(Format), Some("UTC"))

  /** [[bucketExpr]] as a Column (registered as `time_bucket` by
    * `GraftScalar.register`). */
  def bucket(unit: String, t: Column): Column =
    call_function("time_bucket", lit(unit), t)

  /** Write `df` as a time-partitioned table. A null `_time` defaults
    * to now (the `_time DEFAULT now64(3)` behavior); rows are sorted
    * within partitions by `orderBy` for row-group skipping. */
  def write(df: DataFrame, path: String,
            granularity: Granularity = Daily,
            orderBy: Seq[String] = Seq.empty): Unit = {
    graft.functions.GraftScalar.register(df.sparkSession) // time_bucket
    val withTime = df.withColumn("_time",
      coalesce(col("_time"), current_timestamp()))
    val bucketed = withTime.withColumn(BucketCol,
      bucket(granularity.truncUnit, col("_time")))
    val sorted =
      if (orderBy.nonEmpty)
        bucketed.repartition(col(BucketCol))
          .sortWithinPartitions(orderBy.map(col): _*)
      else bucketed
    sorted.write.mode("overwrite").partitionBy(BucketCol).parquet(path)
  }

  /** Read with time bounds: the REST layer's start_time/end_time →
    * `_time >= start AND _time < end` injection (AddTimeParamVisitor);
    * [[PruneBuckets]] derives the partition-bucket bounds from it. */
  def readBounded(spark: SparkSession, path: String,
                  startIso: String, endIso: String,
                  granularity: Granularity = Daily): DataFrame =
    spark.read.option(UnitOption, granularity.truncUnit).parquet(path)
      .filter(col("_time") >= lit(startIso).cast("timestamp") &&
        col("_time") < lit(endIso).cast("timestamp"))

  /** Partition pruning for `_time`-bounded reads of a bucketed table.
    * Matches a Filter directly over a file relation read with
    * [[UnitOption]]; for each top-level `_time` conjunct comparing with
    * a constant it adds the bucket bound the comparison implies
    * (`>`/`>=` give `_time_bucket >= bucket(v)`, `<`/`<=` give
    * `_time_bucket <= bucket(v)`, `=` gives both), which
    * FileSourceStrategy turns into partition filters. Truncation is
    * monotone, so no row passing the `_time` conjunct is dropped; the
    * `_time` filter itself stays. Nothing is added for `_time` under an
    * OR, a comparison with a non-constant, or a Filter that already
    * references the bucket column. */
  object PruneBuckets extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case f @ Filter(cond, rel @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)) =>
        val bounded = for {
          unit <- fs.options.get(UnitOption)
          time <- rel.output.find(a => a.name == "_time" && a.dataType == TimestampType)
          bkt <- rel.output.find(_.name == BucketCol)
          if fs.partitionSchema.fieldNames.contains(BucketCol) &&
            bkt.dataType == StringType && !cond.references.contains(bkt)
          bounds = splitConjunctivePredicates(cond).flatMap(bucketBounds(unit, time, bkt, _))
          if bounds.nonEmpty
        } yield Filter(And(cond, bounds.reduce(And)), rel)
        bounded.getOrElse(f)
    }

    /** The bucket bounds conjunct `c` implies on `bkt` when it compares
      * `time` with a constant: `c` normalized to `time op v` first. */
    private def bucketBounds(unit: String, time: Attribute, bkt: Attribute,
                             c: Expression): Seq[Expression] = {
      val normalized = c match {
        case b: BinaryComparison if b.left.semanticEquals(time) => Some(b)
        case b: BinaryComparison if b.right.semanticEquals(time) => Some(flip(b))
        case _ => None
      }
      val bound = for {
        b <- normalized
        if b.right.foldable
        v <- scala.util.Try(b.right.eval()).toOption if v != null
        s <- Option(bucketExpr(Literal(unit), Literal(v, TimestampType)).eval())
      } yield {
        val at = Literal.create(s, StringType)
        b match {
          case _: GreaterThan | _: GreaterThanOrEqual => Seq(GreaterThanOrEqual(bkt, at))
          case _: LessThan | _: LessThanOrEqual => Seq(LessThanOrEqual(bkt, at))
          case _: EqualTo => Seq(GreaterThanOrEqual(bkt, at), LessThanOrEqual(bkt, at))
          case _ => Nil
        }
      }
      bound.getOrElse(Nil)
    }

    /** `v op t` as `t op' v`. */
    private def flip(b: BinaryComparison): BinaryComparison = b match {
      case GreaterThan(l, r) => LessThan(r, l)
      case GreaterThanOrEqual(l, r) => LessThanOrEqual(r, l)
      case LessThan(l, r) => GreaterThan(r, l)
      case LessThanOrEqual(l, r) => GreaterThanOrEqual(r, l)
      case EqualTo(l, r) => EqualTo(r, l)
      case other => other
    }
  }
}
