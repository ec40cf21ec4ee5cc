package graft.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Delegating parser for the lake DDL extensions the stock grammar
  * lacks (SURVEY.md §2.A; reference iceberg_it.py:379-396, 617-860):
  *
  *   ALTER TABLE t CREATE [OR REPLACE] BRANCH/TAG [IF NOT EXISTS] b
  *       [AS OF VERSION n] [RETAIN d DAYS]
  *   ALTER TABLE t REPLACE BRANCH/TAG b AS OF VERSION n
  *   ALTER TABLE t DROP BRANCH/TAG [IF EXISTS] b
  *   ALTER TABLE t ADD PARTITION FIELD <transform> [AS name]
  *   ALTER TABLE t DROP PARTITION FIELD <transform>
  *   ALTER TABLE t WRITE ORDERED BY c1 [, c2 ...]
  *   ALTER TABLE t WRITE LOCALLY ORDERED BY c1 [, c2 ...]
  *   ALTER TABLE t WRITE UNORDERED
  *   ALTER TABLE t WRITE DISTRIBUTED BY PARTITION
  *   ALTER TABLE t SET IDENTIFIER FIELDS c1 [, c2 ...]
  *   ALTER TABLE t DROP IDENTIFIER FIELDS c1 [, c2 ...]
  */
class LakeDdlParser(delegate: ParserInterface) extends ParserInterface {

  private val refDdl =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+""" +
      """(CREATE(?:\s+OR\s+REPLACE)?|REPLACE|DROP)\s+(BRANCH|TAG)\s+""" +
      """(?:IF\s+(?:NOT\s+)?EXISTS\s+)?([\w`-]+)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?""" +
      """(?:\s+RETAIN\s+(\d+)\s+DAYS)?""" +
      """(?:\s+WITH\s+SNAPSHOT\s+RETENTION""" +
      """(?:\s+(\d+)\s+SNAPSHOTS)?(?:\s+(\d+)\s+DAYS)?)?\s*""").r
  private val addPartField =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+ADD\s+PARTITION\s+FIELD\s+([\w`().,\s]+?)(?:\s+AS\s+([\w`]+))?\s*""".r
  private val dropPartField =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+DROP\s+PARTITION\s+FIELD\s+([\w`().,\s]+?)\s*""".r
  private val replacePartField =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+REPLACE\s+PARTITION\s+FIELD\s+""" +
      """([\w`().,\s]+?)\s+WITH\s+([\w`().,\s]+?)(?:\s+AS\s+([\w`]+))?\s*""").r
  private val writeOrdered =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+WRITE\s+(?:LOCALLY\s+)?ORDERED\s+BY\s+([\w`,\s]+?)\s*""".r
  private val writeUnordered =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+WRITE\s+UNORDERED\s*""".r
  private val writeDistributed =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+WRITE\s+DISTRIBUTED\s+BY\s+PARTITION\s*""".r
  private val identifierFields =
    """(?is)\s*ALTER\s+TABLE\s+([\w`.]+)\s+(SET|DROP)\s+IDENTIFIER\s+FIELDS\s+([\w`,\s]+?)\s*""".r

  private def parts(t: String): Seq[String] =
    t.replace("`", "").split("\\.").toSeq

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case refDdl(t, verb, kind, name, version, retainDays, minSnaps, snapAgeDays) =>
      val v = verb.toUpperCase.replaceAll("\\s+", " ")
      val ifNotExists = sqlText.toUpperCase.contains("IF NOT EXISTS")
      val ifExists = !ifNotExists && sqlText.toUpperCase.contains("IF EXISTS")
      val dayMs = 24L * 3600 * 1000
      LakeRefCommand(parts(t), v, kind.toUpperCase == "TAG",
        name.replace("`", ""), Option(version).map(_.toLong),
        ifNotExists, ifExists,
        maxRefAgeMs = Option(retainDays).map(_.toLong * dayMs),
        minSnapshotsToKeep = Option(minSnaps).map(_.toInt),
        maxSnapshotAgeMs = Option(snapAgeDays).map(_.toLong * dayMs))
    case addPartField(t, transform, name) =>
      LakePartitionFieldCommand(parts(t), add = true, transform.trim,
        Option(name).map(_.replace("`", "")))
    case replacePartField(t, oldField, newTransform, name) =>
      LakeReplacePartitionFieldCommand(parts(t), oldField.trim,
        newTransform.trim, Option(name).map(_.replace("`", "")))
    case dropPartField(t, transform) =>
      LakePartitionFieldCommand(parts(t), add = false, transform.trim, None)
    case writeOrdered(t, cols) =>
      LakeWriteOrderCommand(parts(t),
        cols.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq)
    case writeUnordered(t) => LakeWriteOrderCommand(parts(t), Nil)
    case writeDistributed(t) => LakeWriteDistributionCommand(parts(t))
    case identifierFields(t, verb, cols) =>
      LakeIdentifierFieldsCommand(parts(t),
        set = verb.equalsIgnoreCase("SET"),
        cols.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
}

object LakeDdl {
  /** Resolve a multipart name against registered LakeCatalogs. */
  def resolve(spark: SparkSession, parts: Seq[String]): (LakeCatalog, Identifier) = {
    val cm = spark.sessionState.catalogManager
    val (catName, rest) =
      if (parts.length >= 3) (parts.head, parts.tail)
      else (cm.currentCatalog.name(), parts)
    cm.catalog(catName) match {
      case lc: LakeCatalog =>
        val ident =
          if (rest.length == 1) Identifier.of(Array("default"), rest.head)
          else Identifier.of(rest.dropRight(1).toArray, rest.last)
        (lc, ident)
      case other => throw new IllegalArgumentException(
        s"$catName is not a lake catalog (${other.getClass.getName})")
    }
  }
}

case class LakeRefCommand(table: Seq[String], verb: String, isTag: Boolean,
    refName: String, version: Option[Long], ifNotExists: Boolean,
    ifExists: Boolean, maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    verb match {
      case "DROP" =>
        if (!meta.refs.contains(refName) && !ifExists)
          throw new IllegalArgumentException(s"ref $refName does not exist")
        cat.commitMeta(meta.copy(refs = meta.refs - refName))
      case v =>
        val exists = meta.refs.contains(refName)
        if (exists && v == "CREATE" && !ifNotExists)
          throw new IllegalArgumentException(s"ref $refName already exists")
        if (!exists && v == "REPLACE")
          throw new IllegalArgumentException(s"ref $refName does not exist")
        if (!(exists && v == "CREATE")) {
          val snap = version.orElse(meta.currentSnapshotId("main")).getOrElse(
            throw new IllegalStateException("table has no snapshots yet"))
          require(meta.snapshotById(snap).isDefined, s"no snapshot $snap")
          cat.commitMeta(meta.copy(refs = meta.refs +
            (refName -> RefMeta(if (isTag) "tag" else "branch", snap,
              maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs))))
        }
    }
    Nil
  }
}

case class LakePartitionFieldCommand(table: Seq[String], add: Boolean,
    transform: String, asName: Option[String]) extends LeafRunnableCommand {

  // the column group admits dots: partition sources may be nested
  // struct fields ("days(s.ts)"), and without the dot the transform
  // spelling would silently mis-parse as a bare identity column
  private val fnPat = """(?i)(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?([\w`.]+)\s*\)""".r

  private[lake] def parsedField: PartitionFieldMeta = parseField

  private def parseField: PartitionFieldMeta = transform match {
    case fnPat(fn, param, col0) =>
      val col = col0.replace("`", "")
      val canonical = fn.toLowerCase match {
        case "year" => "years" case "month" => "months"
        case "day" => "days" case "hour" => "hours"
        case other => other
      }
      val defName = canonical match {
        case "bucket" => s"${col}_bucket"
        case "truncate" => s"${col}_trunc"
        case t => s"${col}_${t.stripSuffix("s")}"
      }
      PartitionFieldMeta(asName.getOrElse(defName), canonical, col,
        Option(param).map(_.toInt))
    case bare =>
      val col = bare.replace("`", "").trim
      PartitionFieldMeta(asName.getOrElse(col), "identity", col, None)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    val field = parseField
    val newSpec =
      if (add) meta.partitionSpec :+ field
      else meta.partitionSpec.filterNot(f =>
        f.name == field.name ||
          (f.transform == field.transform && f.sourceColumn == field.sourceColumn))
    // old files keep their old partition values; only new writes use
    // the evolved spec (spec-versioned layout, SURVEY.md §7.4.2).
    // Adding the table's first TIME transform pins the transform zone
    // (Transforms.ZoneProp) exactly like CREATE would.
    cat.commitMeta(meta.withSpec(newSpec).copy(
      properties = Transforms.stampZone(meta.properties, newSpec)))
    Nil
  }
}

/** REPLACE PARTITION FIELD old WITH transform [AS name]: atomic
  * drop+add in one metadata commit. `old` may be the FIELD name
  * (ts_day) or a transform spelling (days(ts)). */
case class LakeReplacePartitionFieldCommand(table: Seq[String],
    oldField: String, newTransform: String, asName: Option[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    val newField =
      LakePartitionFieldCommand(table, add = true, newTransform, asName)
        .parsedField
    val oldName = oldField.replace("`", "")
    val dropped = meta.partitionSpec.filterNot(_.name == oldName)
    require(dropped.size < meta.partitionSpec.size,
      s"partition field $oldName does not exist " +
        s"(have: ${meta.partitionSpec.map(_.name).mkString(", ")})")
    val replacedSpec = dropped :+ newField
    cat.commitMeta(meta.withSpec(replacedSpec).copy(
      properties = Transforms.stampZone(meta.properties, replacedSpec)))
    Nil
  }
}

case class LakeWriteOrderCommand(table: Seq[String], cols: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    // normalize `col [ASC|DESC] [NULLS FIRST|LAST]` items and verify
    // the columns exist — both fail loudly; an unparsed direction
    // token stored as part of a column NAME would silently corrupt
    // the write ordering, the sortedBy stamp and the SPJ claim
    val entries = cols.map(SortSpec.normalize)
    val have = meta.schema.fieldNames.toSet
    val missing = entries.map(SortSpec.parse(_).column).filterNot(have)
    require(missing.isEmpty,
      s"WRITE ORDERED BY references missing column(s): " +
        s"${missing.mkString(", ")} (have: ${have.mkString(", ")})")
    cat.commitMeta(meta.copy(sortOrder = entries))
    Nil
  }
}

case class LakeWriteDistributionCommand(table: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    cat.commitMeta(meta.copy(properties =
      meta.properties + ("write.distribution-mode" -> "hash")))
    Nil
  }
}

case class LakeIdentifierFieldsCommand(table: Seq[String], set: Boolean,
    cols: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = LakeDdl.resolve(spark, table)
    val meta = cat.loadMetaWritable(ident)
    val updated =
      if (set) meta.properties + ("identifier-fields" -> cols.mkString(","))
      else meta.properties - "identifier-fields"
    cat.commitMeta(meta.copy(properties = updated))
    Nil
  }
}

/** `.withExtensions(new LakeExtensions)` or
  * `spark.sql.extensions=graft.lake.LakeExtensions`. */
class LakeExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new LakeDdlParser(delegate))
    // single-partition reads collect on the driver (LakeDriverReadExec).
    // Query-post-planner rules only run under AQE, which a point read
    // (no exchange) never enters; the columnar post-transition rule
    // sees every physical plan at its root.
    ext.injectColumnar(_ => LakeDriverRead.columnarRule)
    // SQL surface for the codegen'd dot product: `graft_dot(a, b)` —
    // the DataFrame API reaches it via VectorFunctions.dot; pure-SQL
    // pipelines (and spark-sql shells) get the same fused loop here
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes two array arguments")
        graft.functions.DotProduct(args.head, args(1))
      }))
    // Unicode NFC normalization: `graft_nfc(text)` — the ingestion
    // canonicalization stage (see functions/StringExpressions.scala)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "graft_nfc"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 1, "graft_nfc(text) takes one string argument")
        graft.functions.NfcNormalize(args.head)
      }))
    // Unicode NFKC compatibility folding: `graft_nfkc(text)` — the
    // optional lossy pre-stage (fullwidth/ligature/superscript →
    // canonical) for match keys; see functions/StringExpressions.scala
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfkc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfkcFold].getName, "graft_nfkc"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 1,
          "graft_nfkc(text) takes one string argument")
        graft.functions.NfkcFold(args.head)
      }))
  }
}
