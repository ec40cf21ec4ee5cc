package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}

/** Hidden-partitioning transforms (reference: iceberg_it.py:278-288 —
  * `bucket(16,id), days(ts), category, truncate(4,data)`; also
  * hours/year at :1310/:382).
  *
  * Evaluation is a plain Column expression, so partition values are
  * computed by a distributed job over the staged files at commit time,
  * and write clustering requests the same transforms through
  * `RequiresDistributionAndOrdering` — Spark shuffles rows so files
  * align with partitions without an engine-side row path.
  */
object Transforms {

  /** DSv2 Transform (from CREATE TABLE ... PARTITIONED BY) -> meta. */
  def fromTransform(t: Transform): PartitionFieldMeta = {
    def ref: String = t.references()(0).fieldNames().mkString(".")
    t.name() match {
      case "identity" => PartitionFieldMeta(ref, "identity", ref, None)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt
        }.get
        PartitionFieldMeta(s"${ref}_bucket", "bucket", ref, Some(n))
      case "truncate" =>
        val w = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt
        }.get
        PartitionFieldMeta(s"${ref}_trunc", "truncate", ref, Some(w))
      case fn @ ("years" | "year" | "months" | "month" | "days" | "day" |
                 "hours" | "hour") =>
        val canonical = fn.stripSuffix("s") + "s"
        PartitionFieldMeta(s"${ref}_${canonical.stripSuffix("s")}",
          canonical, ref, None)
      case other =>
        throw new UnsupportedOperationException(s"transform $other")
    }
  }

  /** Leaf type of a (possibly dotted, nested) source-column path, or
    * None when the path does not resolve in `schema`. The write paths
    * use resolvability to distinguish a delete-only delta schema
    * (transforms legitimately absent) from a real insert schema — a
    * top-level-only check there misclassifies every nested partition
    * source and bricks inserts into the table. */
  def leafType(schema: org.apache.spark.sql.types.StructType,
      path: String): Option[org.apache.spark.sql.types.DataType] =
    path.split('.').foldLeft(
        Option(schema: org.apache.spark.sql.types.DataType)) {
      case (Some(st: org.apache.spark.sql.types.StructType), part) =>
        st.fields.find(_.name.equalsIgnoreCase(part)).map(_.dataType)
      case _ => None
    }

  def toTransform(f: PartitionFieldMeta): Transform = f.transform match {
    case "identity" => Expressions.identity(f.sourceColumn)
    case "bucket"   => Expressions.bucket(f.param.get, f.sourceColumn)
    case "truncate" => Expressions.apply("truncate",
      Expressions.literal(f.param.get), Expressions.column(f.sourceColumn))
    case "years"    => Expressions.years(f.sourceColumn)
    case "months"   => Expressions.months(f.sourceColumn)
    case "days"     => Expressions.days(f.sourceColumn)
    case "hours"    => Expressions.hours(f.sourceColumn)
  }

  /** Table property pinning the zone every time transform
    * (years/months/days/hours) on a TimestampType source evaluates
    * under. Stamped from the creating session's timezone; without it
    * `date_format` uses the WRITING session's zone, so two writer
    * sessions in different zones produce DIFFERENT partition tuples
    * for the same instant — and a dynamic overwrite staged in one
    * zone fails to match (and therefore fails to replace) files
    * committed from another, silently keeping rows it should have
    * replaced. DATE and TimestampNTZ sources are zone-free either
    * way. Legacy tables without the property keep the session-zone
    * behavior they were written under (documented in
    * TransformZoneSuite). */
  val ZoneProp = "write.transform.zone"

  def zoneOf(meta: TableMeta): Option[String] = meta.properties.get(ZoneProp)

  /** Stamp [[ZoneProp]] into creation properties when the spec has a
    * time transform (no-op if the user set a zone explicitly). */
  def stampZone(props: Map[String, String], spec: Seq[PartitionFieldMeta])
      : Map[String, String] =
    if (props.contains(ZoneProp) ||
        !spec.exists(f => Set("years", "months", "days", "hours")(f.transform)))
      props
    else props + (ZoneProp -> org.apache.spark.sql.SparkSession.active
      .sessionState.conf.sessionLocalTimeZone)

  /** Transform as a Column over the source column (string-encoded so
    * partition values serialize uniformly into the manifest). */
  def eval(f: PartitionFieldMeta,
      schema: org.apache.spark.sql.types.StructType,
      zone: Option[String] = None): Column = {
    import org.apache.spark.sql.types._
    val c = col(f.sourceColumn)
    // resolve the source's leaf type through dotted struct paths —
    // a top-level-only lookup would silently give truncate() on a
    // nested NUMERIC source string-prefix semantics instead of the
    // numeric floor
    val src = leafType(schema, f.sourceColumn)
    val numeric = src.exists {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    // pinned-zone formatting: a TimestampType source (an instant)
    // formats in the table's zone. DATE/NTZ values are wall-clock and
    // format in UTC, which has no gaps: date_format's implicit
    // session-zone cast moves a value inside a DST gap (NTZ 02:30 on a
    // spring-forward day lands in hour 03), which would make the value
    // depend on the writer's zone and defeat exact filter projection
    // (PartitionPruning). Expressions carry an explicit timeZoneId,
    // which analysis preserves (ResolveTimeZone only fills in missing
    // ones).
    val wallClock = src.contains(DateType) || src.contains(TimestampNTZType)
    val pinned = zone.filter(_ => src.contains(TimestampType))
    import org.apache.spark.sql.catalyst.expressions.{Cast, DateFormatClass, Literal, Year}
    import org.apache.spark.sql.graft.Shims
    def fmtTz(fmt: String): Column = pinned match {
      case Some(z) => Shims.column(
        DateFormatClass(Shims.expression(c), Literal(fmt), Some(z)))
      case None if wallClock => Shims.column(DateFormatClass(
        Cast(Shims.expression(c), TimestampType, Some("UTC")), Literal(fmt),
        Some("UTC")))
      case None => date_format(c, fmt)
    }
    val v = f.transform match {
      case "identity" => c
      case "bucket"   => pmod(abs(xxhash64(c)), lit(f.param.get))
      case "truncate" if numeric =>
        c.cast("long") - pmod(c.cast("long"), lit(f.param.get.toLong))
      case "truncate" => substring(c.cast("string"), 1, f.param.get)
      case "years"    => pinned match {
        case Some(z) => Shims.column(Year(
          Cast(Shims.expression(c), DateType, Some(z))))
        case None => year(c)
      }
      case "months"   => fmtTz("yyyy-MM")
      case "days"     => fmtTz("yyyy-MM-dd")
      case "hours"    => fmtTz("yyyy-MM-dd-HH")
    }
    v.cast("string")
  }
}
