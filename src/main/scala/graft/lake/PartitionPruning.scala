package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{CharVarcharUtils, DateTimeUtils}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Inclusive partition projection, the partition half of
  * [[FileStats.mayMatch]] (Iceberg's scan planning,
  * https://iceberg.apache.org/spec/#scan-planning): a filter on the
  * SOURCE column of a partition field is mapped through the field's
  * transform, and a file whose recorded `partitionValues` entry cannot
  * satisfy the mapped filter is skipped. Min/max cannot do this for a
  * hashed key — every bucket file spans the whole key range — so
  * without it a point read on `bucket(16, id)` plans all 16 files.
  *
  * A literal is projected by evaluating the very expression
  * [[Transforms.eval]] builds for the write path (resolved once per
  * field definition and source type, then memoized per literal for the
  * scan), after converting the literal EXACTLY to the source type; a
  * literal that does not convert makes no claim. `=` and `IN` project
  * through every supported transform; ranges only through monotone
  * ones (identity, truncate, and the time transforms), and strictly
  * only through identity. Supported sources: integral, decimal and
  * default-collation strings (identity, bucket, truncate), DATE and
  * TIMESTAMP_NTZ (identity, bucket, time transforms), TIMESTAMP
  * (bucket only: its hash is zone-free, its text and time transforms
  * are not) and BOOLEAN (identity). FLOAT/DOUBLE make no claim: `=`
  * treats -0.0 and 0.0 alike while their hashes and text differ.
  *
  * Sound under spec evolution: `partitionValues` is keyed by field
  * NAME, and a name may be redefined (REPLACE PARTITION FIELD … AS the
  * same name, DROP then ADD). A name prunes only while every definition
  * in the table's spec log ([[TableMeta.specLog]]) is identical, and
  * only while its source column has one field id and one type in every
  * schema epoch (a widened INT→BIGINT column hashes differently, and a
  * dropped-and-re-added column is another column). Metadata without a
  * spec log makes no claim at all.
  */
final class PartitionPruning private (
    bySource: Map[String, Seq[PartitionPruning.Field]]) extends Serializable {
  import PartitionPruning._

  // literal -> projected value per field, once per scan (rebuilt on an
  // executor that evaluates a distributed prune)
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), Option[String]]()

  def isEmpty: Boolean = bySource.isEmpty

  /** Does a filter on source column `column` prune by partition value? */
  def prunes(column: String): Boolean =
    bySource.contains(column.toLowerCase(java.util.Locale.ROOT))

  /** May `file` hold a row satisfying the comparison `leaf`? False only
    * when a recorded partition value rules it out. */
  def admits(file: DataFileMeta, leaf: Filter): Boolean =
    if (bySource.isEmpty || file.partitionValues.isEmpty) true
    else leaf match {
      case EqualTo(a, v) => check(file, a, v, Eq)
      case GreaterThan(a, v) => check(file, a, v, Gt)
      case GreaterThanOrEqual(a, v) => check(file, a, v, Ge)
      case LessThan(a, v) => check(file, a, v, Lt)
      case LessThanOrEqual(a, v) => check(file, a, v, Le)
      case _ => true
    }

  private def check(file: DataFileMeta, attr: String, v: Any, op: Op): Boolean =
    project(attr, v).forall { case (f, p) =>
      file.partitionValues.get(f.name).forall(f.admits(_, p, op))
    }

  /** The fields on source column `attr` that project literal `v`, each
    * with `v`'s transformed value. */
  private[lake] def project(attr: String, v: Any): Seq[(Field, String)] =
    bySource.getOrElse(attr.toLowerCase(java.util.Locale.ROOT), Nil)
      .flatMap(f => memo.computeIfAbsent((f.name, v), _ => f.project(v))
        .map(f -> _))
}

object PartitionPruning {
  private[lake] sealed trait Op
  private case object Eq extends Op
  private case object Gt extends Op
  private case object Ge extends Op
  private case object Lt extends Op
  private case object Le extends Op

  /** How recorded values of a monotone transform compare. */
  private[lake] sealed trait Order
  private case object Unordered extends Order // bucket, boolean
  private case object Num extends Order       // integers, decimals, years
  private case object Utf8 extends Order      // strings (parquet byte order)
  private case object Iso extends Order       // yyyy-MM[-dd[-HH]] / date text

  /** One prunable field: `expr` is the field's transform bound to a
    * single input column of `sourceType`. */
  private[lake] final case class Field(name: String, source: String,
      sourceType: DataType, order: Order, strict: Boolean, expr: Expression) {

    def project(v: Any): Option[String] =
      toCatalyst(v, sourceType).flatMap(c =>
        scala.util.Try(expr.eval(InternalRow(c))).toOption.map(String.valueOf))

    def admits(recorded: String, projected: String, op: Op): Boolean =
      op match {
        case Eq => recorded == projected
        case _ => compare(recorded, projected).forall { c =>
          op match {
            case Gt if strict => c > 0
            case Gt | Ge => c >= 0
            case Lt if strict => c < 0
            case _ => c <= 0
          }
        }
      }

    // None: the two values are not comparable (e.g. the "null" text of
    // a null-valued tuple against a number) — no claim
    private def compare(a: String, b: String): Option[Int] = order match {
      case Unordered => None
      case Num => FileStats.cmp(a, b, DecimalType.SYSTEM_DEFAULT)
      case Utf8 => FileStats.cmp(a, b, StringType)
      case Iso =>
        // lexical order is time order only for 4-digit years
        if (IsoText.matcher(a).matches && IsoText.matcher(b).matches)
          Some(a.compareTo(b))
        else None
    }
  }

  private val IsoText = java.util.regex.Pattern.compile("\\d{4}-\\d{2}[-0-9 :.]*")

  val none: PartitionPruning = new PartitionPruning(Map.empty)

  /** The projection for scans and rewrites of `meta`'s files. */
  def of(meta: TableMeta): PartitionPruning = meta.specLog match {
    case None => none
    case Some(log) =>
      val stable = log.flatten.groupBy(_.name).values
        .collect { case defs if defs.distinct.size == 1 => defs.head }
      if (stable.isEmpty) none
      else {
        val schemas = meta.schemas.indices.map(meta.schemaAt)
        val current = schemas(meta.currentSchemaEpoch)
        val fields = stable.toSeq.flatMap(d => field(d, current, schemas))
        if (fields.isEmpty) none
        else new PartitionPruning(
          fields.groupBy(_.source.toLowerCase(java.util.Locale.ROOT)))
      }
  }

  private def field(d: PartitionFieldMeta, current: StructType,
      schemas: Seq[StructType]): Option[Field] =
    leafField(current, d.sourceColumn).flatMap { sf =>
      val dt = sf.dataType
      val sameColumn = schemas.forall(s => leafField(s, d.sourceColumn)
        .forall(e => TableMeta.fieldId(e) == TableMeta.fieldId(sf) &&
          e.dataType == dt))
      val charLike = CharVarcharUtils.getRawType(sf.metadata).isDefined
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val numeric = integral || dt.isInstanceOf[DecimalType]
      val string = dt == StringType && !charLike
      val wallClock = dt == DateType || dt == TimestampNTZType
      val shape: Option[(Order, Boolean)] = d.transform match {
        case "identity" if numeric => Some((Num, true))
        case "identity" if string => Some((Utf8, true))
        case "identity" if wallClock => Some((Iso, true))
        case "identity" if dt == BooleanType => Some((Unordered, true))
        case "bucket" if numeric || string || wallClock ||
            dt == TimestampType => Some((Unordered, false))
        case "truncate" if numeric => Some((Num, false))
        case "truncate" if string => Some((Utf8, false))
        case "years" if wallClock => Some((Num, false))
        case "months" | "days" | "hours" if wallClock => Some((Iso, false))
        case _ => None
      }
      for ((order, strict) <- shape if sameColumn; e <- compiled(d, dt))
        yield Field(d.name, d.sourceColumn, dt, order, strict, e)
    }

  /** The struct field a (possibly dotted) source path names. */
  private def leafField(schema: StructType, path: String): Option[StructField] = {
    val parts = path.split('.')
    parts.init.foldLeft(Option(schema)) {
      case (Some(st), p) => st.fields.find(_.name.equalsIgnoreCase(p))
        .map(_.dataType).collect { case s: StructType => s }
      case _ => None
    }.flatMap(_.fields.find(_.name.equalsIgnoreCase(parts.last)))
  }

  // resolved transform per (transform, param, source type): analysis
  // runs once per JVM, not once per scan
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Option[Int], DataType), Option[Expression]]()

  private def compiled(d: PartitionFieldMeta, dt: DataType): Option[Expression] =
    cache.computeIfAbsent((d.transform, d.param, dt), _ => scala.util.Try {
      val in = AttributeReference("v", dt)()
      Shims.ofRows(SparkSession.active, LocalRelation(in))
        .select(Transforms.eval(d.copy(sourceColumn = "v"),
          StructType(Seq(StructField("v", dt)))))
        .queryExecution.analyzed match {
        case Project(Seq(e), child) => BindReferences.bindReference(
          e match { case a: Alias => a.child; case other => other },
          child.output)
      }
    }.toOption)

  /** The Catalyst value of filter literal `v` in type `dt`, or None
    * when `v` is not exactly a value of `dt`. */
  private[lake] def toCatalyst(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
        _: java.lang.Long), _) if !dt.isInstanceOf[DecimalType] =>
      val l = n.asInstanceOf[Number].longValue
      dt match {
        case ByteType if l.isValidByte => Some(l.toByte)
        case ShortType if l.isValidShort => Some(l.toShort)
        case IntegerType if l.isValidInt => Some(l.toInt)
        case LongType => Some(l)
        case _ => None
      }
    case (x, d: DecimalType) =>
      val bd: Option[java.math.BigDecimal] = x match {
        case b: java.math.BigDecimal => Some(b)
        case b: scala.math.BigDecimal => Some(b.bigDecimal)
        case b: Decimal => Some(b.toJavaBigDecimal)
        case n @ (_: java.lang.Byte | _: java.lang.Short |
            _: java.lang.Integer | _: java.lang.Long) =>
          Some(java.math.BigDecimal.valueOf(n.asInstanceOf[Number].longValue))
        case _ => None
      }
      bd.flatMap(b => scala.util.Try(Decimal(
        b.setScale(d.scale, java.math.RoundingMode.UNNECESSARY),
        d.precision, d.scale)).toOption)
    case (s: String, StringType) => Some(UTF8String.fromString(s))
    case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
    case (x: java.time.LocalDate, DateType) =>
      Some(DateTimeUtils.localDateToDays(x))
    case (x: java.sql.Date, DateType) => Some(DateTimeUtils.fromJavaDate(x))
    case (x: java.time.LocalDateTime, TimestampNTZType) =>
      Some(DateTimeUtils.localDateTimeToMicros(x))
    case (x: java.time.Instant, TimestampType) =>
      Some(DateTimeUtils.instantToMicros(x))
    case (x: java.sql.Timestamp, TimestampType) =>
      Some(DateTimeUtils.fromJavaTimestamp(x))
    case _ => None
  }
}
