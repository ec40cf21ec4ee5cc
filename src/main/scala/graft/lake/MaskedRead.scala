package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The read of every row-copying writer (file rewrites, merge-on-read
  * DELETE, equality-delete conversion): `files` of `table` through
  * [[PosDeleteScan]], the scan every masked read takes. Position masks
  * of `deletes` and the equality deletes `eqs` apply where they apply
  * (relevance from metadata, content loaded by each task), schema
  * epochs project to `table`'s current schema by field id, and every
  * row carries its file key and ordinal in [[File]] and [[Pos]].
  *
  * `eqDeletedOnly` inverts the equality-delete check: the read keeps
  * just the live rows that `eqs` delete. `bins`, a partition of
  * `files`, makes each bin one input partition, read file after file;
  * by default each file is one. */
private[lake] object MaskedRead {

  val File = "__graft_file"
  val Pos = "__graft_pos"

  def apply(table: LakeTable, files: Seq[DataFileMeta],
      deletes: Seq[DataFileMeta], eqs: Seq[EqDeleteMeta],
      eqDeletedOnly: Boolean = false,
      bins: Option[Seq[Seq[DataFileMeta]]] = None): DataFrame = {
    table.schema().fieldNames
      .find(n => n.equalsIgnoreCase(File) || n.equalsIgnoreCase(Pos))
      .foreach(n => throw new IllegalArgumentException(
        s"${table.name()}: column '$n' is reserved for the row ids of " +
          "file rewrites; rename it before rewriting the table's files"))
    val source = new Source(table, files,
      PosDeletes.masksFor(files, deletes),
      EqDeletes.masksFor(table.meta, files, eqs), eqDeletedOnly, bins)
    Shims.ofRows(SparkSession.active, DataSourceV2Relation.create(source,
      None, None, CaseInsensitiveStringMap.empty()))
  }

  private class Source(table: LakeTable, files: Seq[DataFileMeta],
      deleted: Map[String, Seq[String]],
      eqDeleted: Map[String, Seq[EqDeleteMeta]], eqDeletedOnly: Boolean,
      bins: Option[Seq[Seq[DataFileMeta]]])
    extends Table with SupportsRead {

    private val fullSchema = StructType(table.schema().fields ++ Seq(
      StructField(File, StringType, nullable = false),
      StructField(Pos, LongType, nullable = false)))

    override def name(): String = table.name()
    override def schema(): StructType = fullSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownRequiredColumns {
        private var required = fullSchema
        override def pruneColumns(r: StructType): Unit = required = r
        override def build(): Scan = new PosDeleteScan(table, files, required,
          deleted, eqDeleted, rowIds = (File, Pos), eqDeletedOnly = eqDeletedOnly,
          bins = bins)
      }
  }
}
