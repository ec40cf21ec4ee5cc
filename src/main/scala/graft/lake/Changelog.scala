package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** CDC changelog over a snapshot range (reference:
  * iceberg_it.py:2301-2344; docs/spark-procedures.md:805-941).
  *
  * The change rows come from the table's `changes` relation
  * ([[ChangesTable]]), the one replayer of snapshot file diffs: a
  * single scan over the range, however many snapshots it spans. This
  * object only post-processes those rows, as Iceberg's view does over
  * its changelog table (docs/spark-procedures.md:918-921): net
  * changes, carry-over removal and, with identifier columns, pairing
  * a delete+insert of one key in one snapshot into
  * update_before/update_after.
  */
object Changelog {

  def build(spark: SparkSession, catalog: LakeCatalog, ident: Identifier,
      meta: TableMeta, startId: Option[Long], endId: Option[Long],
      identifierCols: Seq[String], computeUpdates: Boolean,
      netChanges: Boolean = false,
      removeCarryovers: Boolean = true): DataFrame = {
    require(!(netChanges && computeUpdates),
      "net_changes cannot be combined with compute_updates/identifier " +
        "columns (matches the reference procedure's restriction)")
    // the scan checks this too, but only when the view is first read
    ChangesScan.requireStart(meta, startId)
    val options = (startId.map("start-snapshot-id" -> _.toString) ++
      endId.map("end-snapshot-id" -> _.toString)).toMap
    val raw = Shims.ofRows(spark, DataSourceV2Relation.create(
      new ChangesTable(catalog, ident, meta), Some(catalog),
      Some(Identifier.of(ident.namespace() :+ ident.name(), "changes")),
      new CaseInsensitiveStringMap(options.asJava)))
    val dataCols = meta.schema.fieldNames.toSeq

    // net_changes (docs/spark-procedures.md:885-941): collapse the
    // whole range to its net effect per distinct row VALUE — a row
    // inserted then deleted (or deleted then re-inserted: a carryover)
    // contributes nothing; surviving changes carry the metadata of the
    // LAST change of their kind. One hash aggregation on the data
    // columns: no window, no self-join, scale-safe.
    if (netChanges) {
      val lastOf = (t: String) => max(when(col("_change_type") === t,
        struct(col("_change_ordinal"), col("_commit_snapshot_id"))))
      val counted = raw.groupBy(dataCols.map(col): _*)
        .agg(
          sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).as("__ins"),
          sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).as("__del"),
          lastOf("insert").as("__li"), lastOf("delete").as("__ld"))
        .withColumn("__net", col("__ins") - col("__del"))
        .filter(col("__net") =!= 0L)
      val side = when(col("__net") > 0, col("__li")).otherwise(col("__ld"))
      return counted.select(
        dataCols.map(col) ++ Seq(
          when(col("__net") > 0, lit("insert")).otherwise(lit("delete"))
            .as("_change_type"),
          side.getField("_change_ordinal").as("_change_ordinal"),
          side.getField("_commit_snapshot_id").as("_commit_snapshot_id"),
          abs(col("__net")).cast("int").as("__n")): _*)
        .withColumn("__e", explode(array_repeat(lit(1), col("__n"))))
        .drop("__n", "__e")
    }

    // Carry-over cancellation (docs/spark-procedures.md:905-921): a
    // copy-on-write rewrite re-emits every untouched row of a touched
    // file as a delete+insert pair in the SAME commit despite no actual
    // change — net them out per (row value, commit). One hash
    // aggregation; surviving multiplicity re-explodes.
    def dropCarryovers(df: DataFrame): DataFrame = {
      val carry = dataCols.map(col) :+ col("_change_ordinal")
      val counted = df.groupBy(carry :+ col("_commit_snapshot_id"): _*)
        .pivot("_change_type", Seq("insert", "delete"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("insert", "delete"))
      val net = counted
        .withColumn("__n", least(col("insert"), col("delete")))
        .withColumn("insert", col("insert") - col("__n"))
        .withColumn("delete", col("delete") - col("__n"))
        .filter(col("insert") > 0 || col("delete") > 0)
      net.select(
        (dataCols.map(col) ++ Seq(col("_change_ordinal"),
          col("_commit_snapshot_id"),
          explode(concat(
            array_repeat(lit("insert"), col("insert").cast("int")),
            array_repeat(lit("delete"), col("delete").cast("int"))))
            .as("_change_type"))): _*)
    }

    // The procedure removes carry-overs by default even without
    // identifier columns (the reference's documented default); the raw
    // view stays reachable via remove_carryovers => false or the
    // `changes` metadata table.
    if (!computeUpdates || identifierCols.isEmpty)
      return if (removeCarryovers)
        dropCarryovers(raw).select((dataCols ++ Seq("_change_type",
          "_change_ordinal", "_commit_snapshot_id")).map(col): _*)
      else raw

    // A row deleted and re-inserted with the same identifier in the
    // same commit is an update; carryover rows (identical on all
    // columns) cancel out.
    val exploded = dropCarryovers(raw)

    val idCols = identifierCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCols :+ col("_change_ordinal"): _*)
    val paired = exploded
      .withColumn("__has_ins",
        max(when(col("_change_type") === "insert", 1).otherwise(0)).over(w))
      .withColumn("__has_del",
        max(when(col("_change_type") === "delete", 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        when(col("__has_ins") === 1 && col("__has_del") === 1,
          when(col("_change_type") === "delete", "update_before")
            .otherwise("update_after"))
          .otherwise(col("_change_type")))
      .drop("__has_ins", "__has_del")
    paired.select((dataCols ++ Seq("_change_type", "_change_ordinal",
      "_commit_snapshot_id")).map(col): _*)
  }
}
