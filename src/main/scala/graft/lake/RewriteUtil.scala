package graft.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import scala.util.Try

/** Helpers for `rewrite_data_files` (reference:
  * docs/spark-procedures.md:396-436): the `where` scope filter and the
  * `zorder(...)` sort strategy.
  */
object RewriteUtil {

  /** Matches `zorder(c1, c2, ...)` in a sort_order spec. */
  val ZorderSpec = "(?i)^zorder\\s*\\((.*)\\)$".r

  /** Parse+analyze a `where` string against the table schema and
    * translate it to v1 source filters for metadata-level pruning.
    * Untranslatable conjuncts are dropped — dropping a conjunct can
    * only widen the kept-file set, so the scope stays a conservative
    * superset of the rows that match.
    */
  def whereToFilters(spark: SparkSession, schema: StructType,
      where: String): Seq[Filter] = {
    // analyzed (not optimized) plan: the optimizer would collapse the
    // empty relation and drop the Filter. Constant-fold explicitly so
    // implicit casts around literals (id <= CAST(20 AS BIGINT)) become
    // plain literals that translateFilter understands.
    val analyzed = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .where(where).queryExecution.analyzed
    val cond = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
      .collect { case f: logical.Filter => f.condition }
    cond.flatMap(splitConjuncts).flatMap(e =>
      org.apache.spark.sql.graft.Shims.translateFilter(e))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Z-order sort key over `names`: each column is linearized to an
    * 8-bit bucket, and the bucket bits are interleaved into one long
    * so lexicographic order on the result is Morton order on the
    * columns. Numeric/date/timestamp columns scale linearly between
    * the min/max already recorded in each group's files' manifest
    * stats (no extra pass over the data; `group` is the row's index
    * into `groups`); other types hash to a bucket, which clusters
    * equal values without imposing an order. The whole key is a plain
    * codegen'd expression tree — no UDF.
    */
  def zvalue(groups: Seq[Seq[DataFileMeta]], group: Column,
      schema: StructType, names: Seq[String]): Column = {
    require(names.nonEmpty && names.size <= 7,
      s"zorder supports 1-7 columns, got ${names.size}")
    val n = names.size
    val buckets = names.map { nm =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(nm)).getOrElse(
        throw new IllegalArgumentException(
          s"zorder column not found in table schema: $nm"))
      zbucket(f, groups, group)
    }
    var acc: Column = lit(0L)
    for (bit <- 0 until 8; (b, j) <- buckets.zipWithIndex)
      acc = acc.bitwiseOR(shiftleft(
        shiftright(b, bit).bitwiseAND(lit(1L)), bit * n + j))
    acc
  }

  /** One column's 0-255 bucket, as in [[zvalue]]; a name that is not a
    * top-level column (a nested path) hashes. */
  def rank(groups: Seq[Seq[DataFileMeta]], group: Column,
      schema: StructType, name: String): Column =
    schema.fields.find(_.name.equalsIgnoreCase(name))
      .fold(hashBucket(col(name)))(zbucket(_, groups, group))

  private def hashBucket(c: Column): Column =
    coalesce(pmod(xxhash64(c), lit(256L)), lit(0L))

  /** One column's 0-255 bucket (nulls bucket to 0 = sort first),
    * scaled by the row's own group's bounds. */
  private def zbucket(f: StructField, groups: Seq[Seq[DataFileMeta]],
      group: Column): Column = {
    def bounds(files: Seq[DataFileMeta]): Option[(Double, Double)] = {
      val los = files.flatMap(_.minValues.get(f.name)).flatMap(s => Try(s.toDouble).toOption)
      val his = files.flatMap(_.maxValues.get(f.name)).flatMap(s => Try(s.toDouble).toOption)
      if (los.isEmpty || his.isEmpty) None
      else Some((los.min, his.max)).filter { case (lo, hi) => hi > lo }
    }
    val numeric: Option[Column] = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType =>
        Some(col(f.name).cast(DoubleType))
      case DateType => Some(unix_date(col(f.name)).cast(DoubleType))
      case TimestampType => Some(unix_micros(col(f.name)).cast(DoubleType))
      case _ => None
    }
    val scaled = groups.map(bounds)
    (numeric, scaled.flatten) match {
      case (Some(v), known) if known.nonEmpty =>
        // total maps (a group without bounds reads (0, 1) and takes
        // the hash branch), so no lookup can miss
        val lo = element_at(typedLit(scaled.zipWithIndex.map {
          case (b, i) => i -> b.fold(0.0)(_._1) }.toMap), group)
        val hi = element_at(typedLit(scaled.zipWithIndex.map {
          case (b, i) => i -> b.fold(1.0)(_._2) }.toMap), group)
        val b = coalesce(least(greatest(
          floor((v - lo) * 255.0 / (hi - lo)).cast(LongType),
          lit(0L)), lit(255L)), lit(0L))
        if (known.size == groups.size) b
        else when(group.isin(scaled.indices.filter(scaled(_).isDefined): _*), b)
          .otherwise(hashBucket(col(f.name)))
      case _ => hashBucket(col(f.name))
    }
  }
}
